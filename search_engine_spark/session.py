"""SparkSession factory tuned for the index-build workload."""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _package_zip() -> str:
    """Zip this package so executors can import it regardless of cwd —
    the in-process equivalent of ``spark-submit --py-files``.

    The zip is named by a hash of the package's directory, so checkouts
    running at once on one host never ship each other's code, and it is
    written under a temp name and renamed into place, so a worker never
    opens a half-written zip."""
    tag = hashlib.sha1(PKG_DIR.encode()).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"search_engine_spark_pyfiles_{tag}.zip")
    tmp = f"{out}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _dirs, files in os.walk(PKG_DIR):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(PKG_DIR))
                    z.write(full, rel)
    os.replace(tmp, out)
    return out


def get_spark(
    app_name: str = "search_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults are scale-aware: AQE on (runtime partition coalescing + skew
    join splitting is the backstop for hot bigram terms), Arrow on (every
    Python-side operator is a vectorized pandas/Arrow UDF), UTC timezone
    (oracle comparisons against DuckDB).

    For a ``local[...]`` master the Python workers start from
    ``worker_daemon`` (a zip's directory is re-read only when the zip
    changed), imported from this package's own directory, which local
    workers can read. Any other master keeps PySpark's daemon; README
    gives the cluster form.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode runs ALL task threads in the driver JVM: an 8g heap
        # under 32 concurrent tasks thrashes GC (measured: postings build
        # 13.5 s @ local[8] vs SLOWER at local[32]); 32g restores linear
        # scaling on this 128 GiB box. Real clusters size executors instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master.startswith("local"):
        b = b.config(
            "spark.python.daemon.module", "search_engine_spark.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", os.path.dirname(PKG_DIR))
    evlog = os.environ.get("SPARK_EVENTLOG_DIR")
    if evlog:  # stage/task-level profiling (tools/ event-log analysis)
        os.makedirs(evlog, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", evlog
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship the package to executors (harmless if already importable there).
    spark.sparkContext.addPyFile(_package_zip())
    return spark
