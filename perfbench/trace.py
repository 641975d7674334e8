"""Spans and layer counters, recorded from outside the engine.

Everything here reads public observability handles of the running Spark
session or wraps calls the benchmark itself makes; nothing in the engine
package is patched except the py4j gateway client's ``send_command``, which
is counted (not altered) while tracing is on.

Handles used, all on Spark 4.1:

- py4j round-trips: a counter around the gateway client's ``send_command``.
- Catalyst phases: ``queryExecution().tracker().phases()`` of the statement's
  final DataFrame (parsing and analysis happen when it is built, optimization
  and planning at the action).
- Whole-stage codegen: ``CodegenMetrics.METRIC_COMPILATION_TIME`` (compile
  count) and ``CodeGenerator.compileTime`` (total compile nanoseconds).
- Jobs, stages and task metrics: a job group per statement, the status
  tracker's job ids for it and the status store's job and stage data.
- Rows and bytes crossing the Python worker boundary: SQL-metric values of
  the Python-eval nodes of every SQL execution the statement started.
"""

from __future__ import annotations

import json
import os
import re
import threading
from dataclasses import dataclass, field

_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_NODE_RE = re.compile(r"Python|Pandas|InArrow")


@dataclass
class Span:
    stmt: int
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span store plus per-statement layer counters."""

    spans: list[Span] = field(default_factory=list)
    counters: list[dict] = field(default_factory=list)
    py4j_calls: int = 0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [sp.__dict__ | {"dur": sp.dur} for sp in self.spans],
                    "counters": self.counters,
                },
                f,
            )


def count_py4j(spark, tracer: Tracer) -> None:
    """Count every py4j round-trip the driver makes from now on."""
    client = spark.sparkContext._gateway._gateway_client
    inner = client.send_command

    def send_command(*args, **kwargs):
        tracer.py4j_calls += 1
        return inner(*args, **kwargs)

    client.send_command = send_command


class SparkProbe:
    """Reads the Spark-side counters around one statement."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._codegen_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))

    def _to_py(self, jobj):
        return json.loads(self._json.writeValueAsString(jobj))

    def mark(self, wait: bool = False) -> dict:
        """Codegen counters and the SQL-execution count at a span boundary."""
        if wait:
            self._jsc.listenerBus().waitUntilEmpty()
        return {
            "compiles": self._codegen_hist.getCount(),
            "compile_ns": self._codegen.compileTime(),
            "executions": self._sql_store.executionsCount(),
        }

    def after(self, marks: list[dict], group: str, df) -> dict:
        """Counters for one statement from the marks taken before its front
        span, between its spans and after its action span, and the wall-clock
        windows (epoch seconds) of the jobs tagged ``group``."""
        self._jsc.listenerBus().waitUntilEmpty()
        first, mid, last = marks
        out = {
            "codegen.compiles": last["compiles"] - first["compiles"],
            "codegen.compile_ms": (last["compile_ns"] - first["compile_ns"]) / 1e6,
            "codegen.front_ms": (mid["compile_ns"] - first["compile_ns"]) / 1e6,
        }
        out.update(self._phases(df))
        out.update(self._jobs(group))
        out.update(self._python_nodes(first["executions"]))
        return out

    def _phases(self, df) -> dict:
        ms = {"parsing": 0, "analysis": 0, "optimization": 0, "planning": 0}
        if df is not None:
            text = df._jdf.queryExecution().tracker().phases().toString()
            for name, t0, t1 in _PHASE_RE.findall(text):
                if name in ms:
                    ms[name] = int(t1) - int(t0)
        return {
            "catalyst.parse_ms": ms["parsing"],
            "catalyst.analyze_ms": ms["analysis"],
            "catalyst.optimize_ms": ms["optimization"],
            "catalyst.plan_ms": ms["planning"],
        }

    def _jobs(self, group: str) -> dict:
        agg = dict.fromkeys(
            ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_busy_s",
             "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
             "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes"),
            0,
        )
        windows = agg["job_windows"] = []
        for job_id in self.spark.sparkContext.statusTracker().getJobIdsForGroup(group):
            job = self._to_py(self._store.job(job_id))
            agg["exec.jobs"] += 1
            if job.get("submissionTime") and job.get("completionTime"):
                windows.append((job["submissionTime"] / 1e3, job["completionTime"] / 1e3))
            for stage_id in job["stageIds"]:
                st = self._to_py(self._store.lastStageAttempt(stage_id))
                if st["status"] != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                agg["exec.stages"] += 1
                agg["exec.tasks"] += st["numCompleteTasks"]
                agg["exec.task_busy_s"] += st["executorRunTime"] / 1e3
                agg["exec.task_cpu_s"] += st["executorCpuTime"] / 1e9
                agg["exec.gc_s"] += st["jvmGcTime"] / 1e3
                agg["exec.shuffle_read_bytes"] += st["shuffleReadBytes"]
                agg["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                agg["exec.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                agg["exec.input_bytes"] += st["inputBytes"]
        return agg

    def _python_nodes(self, first_execution: int) -> dict:
        out = {"operators.python_rows": 0, "operators.python_bytes": 0.0, "operators.python_s": 0.0}
        n = self._sql_store.executionsCount() - first_execution
        if n <= 0:
            return out
        it = self._sql_store.executionsList(first_execution, n).iterator()
        while it.hasNext():
            eid = it.next().executionId()
            nodes = self._to_py(self._sql_store.planGraph(eid).allNodes())
            py_nodes = [nd for nd in nodes if _PY_NODE_RE.search(nd["name"])]
            if not py_nodes:
                continue
            values = self._to_py(self._sql_store.executionMetrics(eid))
            for nd in py_nodes:
                for m in nd["metrics"]:
                    v = values.get(str(m["accumulatorId"]))
                    if v is None:
                        continue
                    if m["name"] == "number of output rows":
                        out["operators.python_rows"] += int(v.replace(",", ""))
                    elif m["name"] in ("data sent to Python workers", "data returned from Python workers"):
                        out["operators.python_bytes"] += _metric_total(v, _SIZE_UNITS)
                    elif m["name"] == "time to run Python workers":
                        out["operators.python_s"] += _metric_total(
                            v, {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0})
        return out


def _metric_total(text: str, units: dict[str, float]) -> float:
    """The total of a formatted SQL metric: ``total (min, ...)\\n39.1 KiB (...)``."""
    value, unit = text.splitlines()[-1].split(" (")[0].split()
    return float(value.replace(",", "")) * units[unit]


def busy_within(windows: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by at least one of ``windows``."""
    total, end = 0.0, lo
    for a, b in sorted(windows):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the driver JVM and the Python workers it forks) every ``interval_s``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_worker_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            total = workers = 0.0
            for mb, is_worker in _descendants(me):
                total += mb
                if is_worker:
                    workers += mb
            self.peak_mb = max(self.peak_mb, total)
            self.peak_worker_mb = max(self.peak_worker_mb, workers)


def descendant_pids(root: int) -> set[int]:
    """``root`` and every live process below it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        parent[int(entry)] = int(stat[stat.rfind(")") + 2:].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def _descendants(root: int):
    """(rss_mb, is_python_worker) for ``root`` and every descendant."""
    for pid in descendant_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        m = re.search(r"VmRSS:\s+(\d+) kB", status)
        if m:
            yield int(m.group(1)) / 1024.0, pid != root and b"pyspark" in cmd and b"java" not in cmd
