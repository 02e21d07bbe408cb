"""PySpark worker daemon that re-reads a zip's directory only when the zip
changed.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark/worker_util.py``). On CPython before 3.13,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory every time, once per importer. A worker holds 17 zip importers
(``pyspark.zip`` once per imported subpackage, the ``spark-core`` jar,
py4j, the shipped package zip), so every Python task re-reads ~27,000
directory entries before it runs any code: half of a Python stage's
fixed cost.

This module records each archive's ``(st_mtime_ns, st_size)``, stat'ed
just before every read of its directory, and replaces
``zipimporter.invalidate_caches`` with a version that re-reads an archive
only when that pair changed. Stamps are keyed by archive path, so every
importer of one zip shares one stat and adopts the directory read last.
Then it runs ``pyspark.daemon`` as ``__main__``. The forked workers
inherit the rule; nothing else in the daemon or the worker changes. A
zip added mid-session (``addPyFile``) gets a new importer, which reads
its directory when it is created.

The rule misses one case: a zip rewritten in place with the same size
within one mtime tick of the recorded read keeps its old directory.
CPython 3.13, which makes ``invalidate_caches`` lazy instead, does not
miss it.

Run it as the daemon module (``get_spark`` does this for a local master):
``spark.python.daemon.module=search_engine_spark.worker_daemon`` with this
package's parent directory on ``spark.executorEnv.PYTHONPATH``.
"""

from __future__ import annotations

import importlib
import os
import runpy
import zipimport

_shipped_read_directory = zipimport._read_directory
_shipped_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size), stat'ed just before its last read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive: str) -> dict:
    """The shipped directory read, recording the archive's stamp."""
    stamp = _stamp(archive)
    files = _shipped_read_directory(archive)
    if stamp is not None:
        _stamps[archive] = stamp
    return files


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive``'s directory only when the archive changed
    since its last read; otherwise adopt the cached directory."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
    else:
        _shipped_invalidate_caches(self)


def install() -> None:
    """Install the rule, then read once every archive whose importer was
    made before it (the daemon's own start-up path), recording stamps that
    the forked workers inherit."""
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
