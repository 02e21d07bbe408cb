"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload write|serve \
        --seed N --seconds S --trace 0|1

Run from the repository root. The workload runs in a child process
(``workload.py``) with a hard timeout, at ``local[<nproc>]``, with every
Spark directory and temp file under ``perfbench/.scratch`` (emptied on
every run). The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). The lines before it give every metric
by name with its unit and sample count, the output checks, and the host
weather (cpus, heap, PySpark version, spin-probe rate, CPU steal share).

With ``--trace 1`` the workload runs twice with the same seed and scale,
untraced and then traced; the tracing overhead of each end-to-end metric
is the traced run's value minus the untraced run's.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import report  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

TOTAL_BUDGET_S = 172.0  # every run must end within 180 s
HEAP = "3g"
# share of the time budget the untraced run of ``--trace 1`` may take
UNTRACED_SHARE = 0.5


def _cpus() -> int:
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    out = subprocess.run(["nproc"], capture_output=True, text=True, env=env, check=True)
    return int(out.stdout.strip())


def _session_pids(sid: int) -> list[int]:
    return [pid for pid, fields in tracing.session_procs(sid) if fields[0] != "Z"]


def _reap(sid: int) -> None:
    """Kill what is left of the child's session (the JVM and its Python
    workers) and wait until every process of it has ended."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while _session_pids(sid) and time.monotonic() < end:
            time.sleep(0.1)


def run_child(args, root: str, trace: bool, timeout_s: float) -> tuple[dict | None, str | None]:
    """Run the workload once; returns (state, event log dir)."""
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(root, d))
    cpus = str(_cpus())
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    env.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_SHUFFLE_PARTITIONS=cpus,
        SPARK_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(root, "local"),
        TMPDIR=os.path.join(root, "tmp"),
        # every JVM, the spark-submit launcher's too: temp files here, and
        # no hsperfdata directory under /tmp
        _JAVA_OPTIONS=f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData",
        PYTHONPATH=os.getcwd() + os.pathsep + env.get("PYTHONPATH", ""),
        PYTHONDONTWRITEBYTECODE="1",
    )
    events = os.path.join(root, "events")
    if trace:
        env["SPARK_EVENTLOG_DIR"] = events
    else:
        env.pop("SPARK_EVENTLOG_DIR", None)
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "1" if trace else "0", "--root", root,
        "--scale", str(args.scale),
    ]
    with open(os.path.join(root, "child.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        timed_out = False
        try:
            proc.wait(timeout=max(timeout_s, 1.0))
        except subprocess.TimeoutExpired:
            timed_out = True
        _reap(proc.pid)
        proc.wait()
    state = None
    try:
        with open(os.path.join(root, "state.json")) as f:
            state = json.load(f)
    except (OSError, json.JSONDecodeError):
        pass
    if state is not None and (timed_out or state.get("phase") != "done"):
        # the op in flight when the run was cut, or else the cut itself,
        # is one failed op
        if not state.get("in_flight"):
            state["attempted"] += 1
        state["failed"] += 1
        state["failures"].append("run cut by the timeout" if timed_out else "run ended early")
    return state, (events if trace else None)


def _print_report(state: dict, weather: dict) -> None:
    print(f"# workload {state['workload']} seed {state['seed']} trace {int(state['trace'])}")
    for name, value, unit, n in report.named(state):
        if value is None:
            print(f"metric {name} = not reported (n={n}: too few samples for a tail)")
        else:
            print(f"metric {name} = {value:.6g} {unit} (n={n})")
    for name, c in sorted(state.get("checks", {}).items()):
        print(f"check {name}: {'ok' if c['ok'] else 'FAILED ' + c['detail']}")
    for msg in state.get("failures", [])[:10]:
        print(f"failure: {msg}")
    print("weather " + json.dumps(weather, sort_keys=True))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(report.OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="corpus size multiplier (smoke tests)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join("search_engine_spark", "__init__.py")):
        print("perfbench: run from the repository root (search_engine_spark/ not found)", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    root = os.path.join(HERE, ".scratch")
    import pyspark  # only the version is read

    cs0, probe0 = stats.cpu_stat(), stats.spin_probe()
    runs = [False, True] if args.trace else [False]
    states = []
    for traced in runs:
        left = TOTAL_BUDGET_S - (time.monotonic() - t_start)
        budget = left * UNTRACED_SHARE if len(runs) == 2 and not traced else left
        state, events = run_child(args, root, traced, budget)
        if state is None:
            print("perfbench: the workload left no state; see perfbench/.scratch/child.log", file=sys.stderr)
            return 1
        states.append((state, events))
    weather = {
        "cpus": _cpus(),
        "heap": HEAP,
        "pyspark": pyspark.__version__,
        "spin_mops": [round(probe0, 2), round(stats.spin_probe(), 2)],
        "steal_share": stats.steal_share(cs0, stats.cpu_stat()),
    }
    state, events = states[-1]
    _print_report(state, weather)
    e2e = report.end_to_end(state)
    if args.trace:
        metrics = report.per_layer(state, events)
        base = report.end_to_end(states[0][0])
        for k in ("setup_s", "op_p50_ms", "aux_p50_ms", "work_per_s"):
            if k in e2e and k in base:
                metrics[f"trace.overhead.{k}"] = e2e[k] - base[k]
                print(f"tracing overhead {k} = {e2e[k] - base[k]:+.6g} ({base[k]:.6g} untraced, {e2e[k]:.6g} traced)")
        units = {k: u for k, (u, _why) in report.PER_LAYER.items()}
        for k, (_u, why) in report.PER_LAYER.items():
            print(f"layer {k} = {metrics.get(k, 0.0):.6g} {units[k]} (moves {why})")
    else:
        metrics = e2e
        units = report.END_TO_END
    failed = sum(s["failed"] for s, _ in states)
    attempted = sum(s["attempted"] for s, _ in states)
    missing = [k for k in units if k not in metrics]
    correct = failed == 0 and not missing
    if missing:
        print(f"missing metrics: {missing}")
    out = {
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed + (1 if missing and failed == 0 else 0),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units if k in metrics},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
