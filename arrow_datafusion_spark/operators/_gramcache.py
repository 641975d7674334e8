"""Worker-global memo dicts for the minhash kernels (``shared_dict``).

Guide §4.5: state that is expensive even per task belongs in a module-level
global guarded by a PID check, so a REUSED Python worker
(``spark.python.worker.reuse``, default on) keeps it across tasks. A kernel
UDF's closure is re-pickled per task, but the ``import`` it executes
returns this worker-process module singleton, which survives the task.

What is cached is each caller's own business (the minhash kernels keep
per-gram digests: a pure function of the gram, recomputed whenever a
worker process starts fresh). Each caller bounds its own dict. Workers die
with their SparkSession's JVM, so nothing persists across sessions.
"""

from __future__ import annotations

import os

_PID: int | None = None
_DICTS: dict = {}


def shared_dict(kind_key) -> dict:
    """A worker-global plain dict for a kernel's own memo (PID-guarded).

    The caller keeps its existing get/set/bounding logic — zero
    per-lookup overhead versus a local dict — but the dict now lives in
    this module singleton, so a REUSED worker keeps it across tasks
    (a closure attribute like ``fn.__dict__`` is re-created every task,
    because the pickled function object is fresh each time). The caller
    is responsible for bounding ITS dict; the PID guard here only
    protects against inherited state in forked workers.
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
