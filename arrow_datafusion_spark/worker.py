"""Python-worker process state for the engine's own pandas UDFs.

Every engine pandas UDF (operators, the SQL front end's built-in kernels,
the t-digest finalizers, the Arrow IPC and Avro sinks) imports this module
in its body, so the first engine-UDF task of a Python worker process imports
it there, and a REUSED worker (``spark.python.worker.reuse``, default on)
keeps it across tasks. A UDF's closure is re-pickled per task, but the
``import`` returns this module singleton, which survives the task.

Two things live here:

- ``shared_dict``: worker-global memo dicts for the minhash kernels
  (per-gram digests, a pure function of the gram). Each caller bounds its
  own dict. Workers die with their SparkSession's JVM, so nothing persists
  across sessions.
- The zip-importer shim. PySpark's worker calls
  ``importlib.invalidate_caches()`` at the start of EVERY task
  (``worker_util.setup_spark_files``). On CPython 3.11 and 3.12 that makes
  each cached ``zipimport.zipimporter`` re-read its archive's central
  directory: the worker's ``sys.path`` holds ``pyspark.zip`` (14 cached
  importers, one per imported package inside it, 7-18 ms each) and the
  spark-core jar (2 importers, 50-54 ms each), a 210-296 ms floor on every
  Python task (timed inside three workers on a 4-core box; 0.1-0.2 ms with
  the shim). CPython 3.13's
  ``zipimport`` only drops the cached entry. The shim swaps those importers,
  and the path hook that makes new ones, for ``StampedZipImporter``, which
  re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed.
  Importing this module outside a Spark task (in the Spark application's
  own process, or in a test) installs nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext

_PID: int | None = None
_DICTS: dict = {}


def shared_dict(kind_key) -> dict:
    """A worker-global plain dict for a kernel's own memo (PID-guarded).

    The caller keeps its existing get/set/bounding logic — zero
    per-lookup overhead versus a local dict — but the dict lives in this
    module singleton, so a REUSED worker keeps it across tasks (a closure
    attribute like ``fn.__dict__`` is re-created every task, because the
    pickled function object is fresh each time). The caller is responsible
    for bounding ITS dict; the PID guard here only protects against
    inherited state in forked workers.
    """
    global _PID, _DICTS
    pid = os.getpid()
    if pid != _PID:
        # fresh (or forked) worker: never trust inherited state
        _PID, _DICTS = pid, {}
    d = _DICTS.get(kind_key)
    if d is None:
        d = _DICTS[kind_key] = {}
    return d


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches()`` re-reads the archive's
    directory only when the archive file changed since the last read."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _stamp(self.archive)

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def install_zip_shim() -> None:
    """Replace the plain zipimporter path hook and every cached plain
    zipimporter with ``StampedZipImporter``. Idempotent."""
    sys.path_hooks[:] = [
        StampedZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    cache = sys.path_importer_cache
    for entry, finder in list(cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                # the archive's directory is already in zipimport's cache,
                # so this reads no file
                cache[entry] = StampedZipImporter(entry)
            except zipimport.ZipImportError:
                pass


if TaskContext.get() is not None:
    install_zip_shim()
