"""The package worker daemon (``search_engine_spark.worker_daemon``):
inside the workers a zip's directory is re-read only when the zip
changed, a zip shipped mid-session is still importable, a changed zip is
re-read, and the daemon ends with its session. Without the daemon and
the package directory on the executor path, as on a cluster, the workers
import the package from the zip ``get_spark`` ships."""

import json
import os
import subprocess
import sys
import textwrap
import time
import uuid
import zipfile
import zipimport

import pyarrow as pa

from search_engine_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_rereads_no_unchanged_zip(spark):
    def zip_reads(batches):
        """Per task: the zip directory reads of one ``invalidate_caches()``,
        the worker's zip importer count, and the file of the installed rule."""
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        shipped = zipimport._read_directory
        reads = 0

        def counting(path):
            nonlocal reads
            reads += 1
            return shipped(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = shipped
        importers = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        rule = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        yield pa.RecordBatch.from_pydict({"reads": [reads], "importers": [importers], "rule": [rule]})

    schema = "reads long, importers long, rule string"
    spark.range(1, numPartitions=1).mapInArrow(zip_reads, schema).collect()
    rows = spark.range(5, numPartitions=5).mapInArrow(zip_reads, schema).collect()
    assert len(rows) == 5
    for r in rows:
        assert os.path.basename(r.rule) == "worker_daemon.py"
        assert r.importers > 0  # pyspark.zip, py4j, the package zip: the rule has work
        assert r.reads == 0


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_added_after_first_stage_imports_in_udf(spark, tmp_path):
    def ident(batches):
        yield from batches

    spark.range(2, numPartitions=2).mapInArrow(ident, "id long").collect()
    mod = f"late_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{mod}.zip")
    _write_zip(path, {mod: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(path)

    def late_value(batches):
        import importlib

        value = importlib.import_module(mod).VALUE
        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [value] * b.num_rows})

    rows = spark.range(4, numPartitions=4).mapInArrow(late_value, "v long").collect()
    assert [r.v for r in rows] == [42] * 4


def _load(imp, name):
    spec = imp.find_spec(name)
    assert spec is not None, name
    module = type(sys)(name)
    spec.loader.exec_module(module)
    return module


def test_changed_zip_is_reread(tmp_path, monkeypatch):
    """No Spark: one importer, its archive rewritten in place."""
    reads = []

    def counting(path):
        reads.append(path)
        return worker_daemon._read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"first": "X = 1\n"})
    imp = zipimport.zipimporter(path)  # reads the directory, records its stamp
    assert _load(imp, "first").X == 1 and imp.find_spec("second") is None
    worker_daemon.invalidate_caches(imp)  # unchanged: adopts the cached directory
    assert reads == [path]

    size = os.path.getsize(path)
    _write_zip(path, {"first": "X = 1\n", "second": "Y = 2\n"})
    assert os.path.getsize(path) != size
    worker_daemon.invalidate_caches(imp)
    assert reads == [path, path]
    assert _load(imp, "second").Y == 2


def _session_daemons(sid):
    """PIDs of live processes in session ``sid`` whose command line names
    the package daemon."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session id
        if fields[0] != "Z" and int(fields[3]) == sid and b"search_engine_spark.worker_daemon" in cmd:
            out.append(int(pid))
    return out


def test_daemon_ends_with_session():
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})
        from test_worker_daemon import _session_daemons
        import os
        from search_engine_spark.session import get_spark
        spark = get_spark(master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.driver.memory": "1g"}})
        def ident(batches):
            yield from batches
        spark.range(1).mapInArrow(ident, "id long").collect()
        print("DAEMONS", os.getsid(0), len(_session_daemons(os.getsid(0))), flush=True)
        spark.stop()
    """)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=240, start_new_session=True,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    seen = [line.split()[1:] for line in proc.stdout.splitlines() if line.startswith("DAEMONS ")]
    assert seen, proc.stdout[-2000:]
    sid, running = map(int, seen[0])
    assert running > 0  # the stage ran on the package daemon
    deadline = time.monotonic() + 20
    while _session_daemons(sid) and time.monotonic() < deadline:
        time.sleep(0.2)
    assert _session_daemons(sid) == []


def test_cluster_workers_import_the_shipped_zip(tmp_path):
    """With PySpark's own daemon and nothing of the package on the
    executor path (what a cluster master gets), the workers import the
    package from the zip ``get_spark`` ships, and a read-merge there
    returns the driver's bytes."""
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        import pyarrow as pa
        from search_engine_spark.operators.segments import merge_term_rows
        from search_engine_spark.session import get_spark
        from tests.codec_reference import reference_encode
        spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf={{
            "spark.python.daemon.module": "pyspark.daemon",
            "spark.executorEnv.PYTHONPATH": "/nonexistent",
            "spark.driver.memory": "1g"}})
        import numpy as np
        parts = [reference_encode(d, [1] * len(d), [[0, 3]] * len(d))
                 for d in ([2, 9, 40], [5, 6, 300])]
        args = [np.array(sum((p[c] for p in parts), []), np.int64)
                for c in ("doc_ids", "tf", "title_end")]
        args.append(np.frombuffer(b"".join(p["blob"] for p in parts), np.uint8))
        def merge(batches):
            from search_engine_spark.functions import codec
            from search_engine_spark.operators.segments import merge_term_rows
            for _ in batches:
                pass
            blob = merge_term_rows(7, *args).row(0)["blob"]
            yield pa.RecordBatch.from_pydict({{"file": [codec.__file__], "blob": [blob]}})
        row = spark.range(1, numPartitions=1).mapInArrow(merge, "file string, blob binary").collect()[0]
        same = bytes(row.blob) == merge_term_rows(7, *args).row(0)["blob"]
        print("RESULT", json.dumps({{"file": row.file, "same": same}}), flush=True)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=240, cwd=str(tmp_path), env=env, start_new_session=True,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    seen = [line.split(" ", 1)[1] for line in proc.stdout.splitlines() if line.startswith("RESULT ")]
    assert seen, proc.stdout[-2000:]
    result = json.loads(seen[0])
    zip_dir, inner = result["file"].split(".zip" + os.sep, 1)
    assert os.path.basename(zip_dir).startswith("search_engine_spark_pyfiles_")
    assert inner == os.path.join("search_engine_spark", "functions", "codec.py")
    assert result["same"]
