#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload tpch_df --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. One Python process drives one local Spark
session with ``local[N]``, N = the CPUs this process may use, and keeps one
statement in flight at a time. A run:

1. sets up three times (seeded fixture tables, ``session.build_spark``, table
   registration; the first also starts the JVM) and reports the median;
2. runs a cold pass over the workload's statements, then whole warm passes,
   as many as take about ``--seconds`` on a 4-core box;
3. checks every statement's result against DuckDB on the same parquet,
   computed before the statement is timed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run, whose spans
are written to ``perfbench/.traces/``. The line before it is a report with
spreads across passes, box load, effective engine settings and the layer
split. See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(HERE, ".traces")
sys.path.insert(0, ROOT)

from perfbench.fixtures import write_fixtures  # noqa: E402
from perfbench.trace import (  # noqa: E402
    RssSampler, Span, SparkProbe, Tracer, busy_within, count_py4j, descendant_pids,
)

SETUPS = 3
# the engine's default driver heap (16g) is more than a 15 GiB box has
DRIVER_MEM = "2g"
# seconds one warm pass of each workload takes on a 4-core box; the run makes
# round(--seconds / this) warm passes, so every run of a workload does the
# same work whatever the box's momentary speed
PASS_S = {"tpch_df": 12.0, "sql_adhoc": 14.0, "pipeline": 7.0, "etl_write": 4.0}
CONFS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.codegen.cache.maxEntries",
)
E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "latency_p50_s": "s",
    "throughput_qps": "1/s",
}


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(PASS_S))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, help="TPC-H scale factor of the tables (default 0.01)")
    return p.parse_args(argv)


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _claim_stdout():
    """Point fd 1 at stderr, so the JVM, the Python workers and any library
    print go there, and return a stream on the original stdout."""
    sys.stdout.flush()
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    return out


def _prepare_env(cpus: int) -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "local"))
    os.chdir(WORK)  # anything Spark writes relative to its cwd lands here
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_EXTRA_CONFS": ";".join([
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"spark.driver.extraJavaOptions=-Duser.timezone=UTC -Dderby.system.home={WORK}",
        ]),
    })


def _setup(data_dir: str, seed: int, sf: float):
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.session import build_spark, load_tables

    t0 = time.perf_counter()
    shutil.rmtree(data_dir, ignore_errors=True)
    write_fixtures(data_dir, sf, seed)
    t1 = time.perf_counter()
    spark = build_spark(app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    load_tables(spark, data_dir)
    ctx = SessionContext(spark)
    t3 = time.perf_counter()
    return spark, ctx, {"fixtures_s": t1 - t0, "build_s": t2 - t1, "register_s": t3 - t2}


def _proc_state(pid: int) -> tuple[str, str] | None:
    """(state, start time) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat[stat.rfind(")") + 2:].split()
    return fields[0], fields[19]


def _exited(pid: int, start: str) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap it if it is our own child
    except ChildProcessError:
        pass
    state = _proc_state(pid)
    # a different start time means the pid now belongs to a new process
    return state is None or state[0] in "ZX" or state[1] != start


def _end_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark session and the JVM behind it, then wait until every
    process the run started (the JVM, the Python worker daemon and its
    workers) has exited. Whatever outlives ``grace_s`` is killed."""
    started = {}
    for pid in descendant_pids(os.getpid()) - {os.getpid()}:
        state = _proc_state(pid)
        if state is not None:
            started[pid] = state[1]
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            # a run cut short mid-call can leave the py4j connection unusable;
            # the JVM still ends when its stdin closes below
            try:
                if SparkContext._active_spark_context is not None:
                    SparkContext._active_spark_context.stop()
                gateway.shutdown()
            except Exception:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=grace_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    while True:
        alive = [pid for pid, start in started.items() if not _exited(pid, start)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _dir_files(path: str) -> dict[str, int]:
    """Data files under ``path`` (no checksums or markers) and their sizes."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                full = os.path.join(dirpath, n)
                out[full] = os.path.getsize(full)
    return out


class Oracle:
    """DuckDB's expected results on the tables the engine reads, computed
    once per oracle text, before the statements are timed."""

    def __init__(self, data_dir: str):
        from tests.oracle_harness import duckdb_con

        self._con = duckdb_con(data_dir)
        self._cache: dict[str | None, object] = {}

    def prefetch(self, statements) -> None:
        from perfbench.workloads import expected

        for s in statements:
            if s.oracle not in self._cache:
                self._cache[s.oracle] = expected(self._con, s)

    def want(self, stmt):
        return self._cache[stmt.oracle]


class Runner:
    """Runs passes of statements and records one sample per statement."""

    def __init__(self, spark, ctx, data_dir, oracle, tracer=None, probe=None):
        self.spark, self.ctx, self.data_dir, self.oracle = spark, ctx, data_dir, oracle
        self.tracer, self.probe = tracer, probe
        self.samples: list[dict] = []
        self.seen_text: set[str] = set()

    def run_pass(self, pass_no: int, statements) -> list[dict]:
        self.oracle.prefetch(statements)
        wants = [self.oracle.want(s) for s in statements]
        out = []
        for stmt, want in zip(statements, wants):
            out.append(self._one(len(self.samples) + len(out), pass_no, stmt, want))
        self.samples.extend(out)
        return out

    def _one(self, sid: int, pass_no: int, stmt, want) -> dict:
        from perfbench.workloads import mismatch

        tr = self.tracer
        sample = {"id": sid, "pass": pass_no, "name": stmt.name, "kind": stmt.kind}
        if stmt.kind == "sql":
            sample["repeat"] = stmt.text in self.seen_text
            self.seen_text.add(stmt.text)
        before_files = _dir_files(stmt.writes_to) if stmt.writes_to else {}
        if tr:
            o0 = time.perf_counter()
            group = f"perfbench-{sid}"
            self.spark.sparkContext.setJobGroup(group, stmt.name)
            marks = [self.probe.mark(wait=True)]
            overhead = time.perf_counter() - o0
            calls0 = tr.py4j_calls
        df = rows = None
        t0 = t1 = t1b = time.perf_counter()
        try:
            if stmt.kind == "build":
                df = stmt.builder(self.spark, self.data_dir)
            else:
                df = self.ctx.sql(stmt.text)
            t1 = t1b = time.perf_counter()
            if tr:
                calls1 = tr.py4j_calls
                marks.append(self.probe.mark())
                t1b = time.perf_counter()
            rows = [tuple(r) for r in df.collect()] if df is not None else []
        except Exception as e:  # noqa: BLE001 - a failed statement is counted, the run goes on
            sample["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
            traceback.print_exc(file=sys.stderr)
        t2 = time.perf_counter()
        sample.update(wall_s=t2 - t0, front_s=t1 - t0, action_s=t2 - t1b)
        if rows is not None:
            reason = mismatch(list(df.columns) if df is not None else [], rows, want)
            if reason:
                sample["error"] = f"wrong result: {reason}"
        if "error" in sample:
            print(f"perfbench: {stmt.name} failed: {sample['error'][:500]}", file=sys.stderr)
        if stmt.writes_to:
            after = _dir_files(stmt.writes_to)
            new = {p: b for p, b in after.items() if before_files.get(p) != b}
            sample["write"] = {
                "files": len(new),
                "bytes": sum(new.values()),
                "rows": int(rows[0][0]) if rows else 0,
            }
        if tr and "error" not in sample:
            calls2 = tr.py4j_calls
            o0 = time.perf_counter()
            epoch = time.time() - o0  # perf_counter -> epoch seconds
            marks.append(self.probe.mark())
            c = self.probe.after(marks, group, df)
            windows = c.pop("job_windows")
            c["exec.front_s"] = busy_within(windows, t0 + epoch, t1 + epoch)
            c["exec.job_wall_s"] = busy_within(windows, t1b + epoch, t2 + epoch)
            c["py4j.front"] = calls1 - calls0
            c["py4j.action"] = calls2 - calls1
            front = "build" if stmt.kind == "build" else "sql"
            tr.spans += [
                Span(sid, "statement", None, t0, t2),
                Span(sid, front, "statement", t0, t1),
                Span(sid, "action", "statement", t1b, t2),
            ]
            tr.counters.append({"stmt": sid, "name": stmt.name} | c)
            sample["counters"] = c
            sample["trace_overhead_s"] = overhead + time.perf_counter() - o0
        return sample


def _betainc(x: float, a: float, b: float) -> float:
    """Regularized incomplete beta I_x(a, b), by Lentz's continued fraction."""
    if x <= 0.0 or x >= 1.0:
        return max(0.0, min(1.0, x))
    if x > (a + 1) / (a + b + 2):
        return 1.0 - _betainc(1.0 - x, b, a)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny, f, c, d = 1e-300, 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2:
            num = -((a + m) * (a + b + m) * x) / ((a + 2 * m) * (a + 2 * m + 1))
        else:
            num = (m * (b - m) * x) / ((a + 2 * m - 1) * (a + 2 * m))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return front * (f - 1.0)


def harrell_davis(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: every order statistic,
    weighted by a Beta((n+1)q, (n+1)(1-q)) density. With a few samples of
    different statements the plain sample median jumps from one statement to
    the next as their latencies trade places; this estimate moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [_betainc(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def _pass_metrics(samples: list[dict]) -> dict:
    lat = [s["wall_s"] for s in samples]
    return {
        "latency_p50_s": harrell_davis(lat, 0.5),
        "latency_p90_s": harrell_davis(lat, 0.9),
        "throughput_qps": len(lat) / sum(lat),
    }


def _self_times(sample: dict) -> dict:
    """Layer self times of one traced statement, in seconds.

    The front span (build or sql) holds Catalyst parsing and analysis, plus
    any codegen and jobs a builder runs eagerly; the action span holds
    optimization, planning, the rest of codegen and the jobs. What a span's
    children do not cover is the span's own (self) time: Python-side building
    or SQL rewriting for the front span, result transfer and scheduling gaps
    for the action span."""
    c = sample["counters"]
    front = "queries" if sample["kind"] == "build" else "context"
    parse = (c["catalyst.parse_ms"] + c["catalyst.analyze_ms"]) / 1e3
    plan = (c["catalyst.optimize_ms"] + c["catalyst.plan_ms"]) / 1e3
    codegen = c["codegen.compile_ms"] / 1e3
    cg_front = c["codegen.front_ms"] / 1e3
    return {
        front: max(0.0, sample["front_s"] - parse - cg_front - c["exec.front_s"]),
        "catalyst": parse + plan,
        "codegen": codegen,
        "exec": c["exec.front_s"] + c["exec.job_wall_s"],
        "action": max(0.0, sample["action_s"] - plan - (codegen - cg_front) - c["exec.job_wall_s"]),
    }


def _layer_metrics(warm: list[dict], setups: list[dict], cores: int) -> dict:
    warm = [s for s in warm if "counters" in s]  # failed statements have none

    def mean(key, rows=warm):
        vals = [r[key] if key in r else r["counters"][key] for r in rows]
        return statistics.fmean(vals) if vals else 0.0

    counters = [s["counters"] for s in warm]
    builds = [s for s in warm if s["kind"] == "build"]
    sqls = [s for s in warm if s["kind"] == "sql"]
    repeat = [s for s in sqls if s["repeat"]]
    m = {
        "session.build_s": statistics.median(s["build_s"] for s in setups),
        "session.register_s": statistics.median(s["register_s"] for s in setups),
        "queries.build_s": mean("front_s", builds),
        "queries.py4j_calls": mean("py4j.front", builds),
        "context.sql_fresh_s": mean("front_s", [s for s in sqls if not s["repeat"]]),
        "context.sql_repeat_s": mean("front_s", repeat),
        "context.py4j_calls": mean("py4j.front", sqls),
        "exec.action_s": mean("action_s"),
        "exec.py4j_calls": mean("py4j.action"),
    }
    for key in (
        "catalyst.parse_ms", "catalyst.analyze_ms", "catalyst.optimize_ms", "catalyst.plan_ms",
        "codegen.compiles", "codegen.compile_ms",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.task_busy_s", "exec.task_cpu_s",
        "exec.gc_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
        "exec.spill_bytes", "exec.input_bytes", "exec.front_s", "exec.job_wall_s",
        "operators.python_rows", "operators.python_bytes", "operators.python_s",
    ):
        m[key] = mean(key)
    busy = sum(c["exec.task_busy_s"] for c in counters)
    m["exec.core_util"] = busy / (sum(s["action_s"] for s in warm) * cores)
    selfs = [_self_times(s) for s in warm]
    for layer in ("queries", "context", "catalyst", "codegen", "exec", "action"):
        m[f"self.{layer}_s"] = statistics.fmean(st.get(layer, 0.0) for st in selfs)
    m["self.cover"] = sum(sum(st.values()) for st in selfs) / sum(s["wall_s"] for s in warm)
    m["trace.overhead_s"] = mean("trace_overhead_s")
    return m


def _write_metrics(warm: list[dict]) -> dict:
    writes = [s for s in warm if "write" in s]
    files = sum(s["write"]["files"] for s in writes)
    nbytes = sum(s["write"]["bytes"] for s in writes)
    rows = sum(s["write"]["rows"] for s in writes)
    n = max(1, len(writes))
    return {
        "write.files": files / n,
        "write.bytes": nbytes / n,
        "write.rows": rows / n,
        "write.s": statistics.fmean(s["wall_s"] for s in writes) if writes else 0.0,
        "write.bytes_per_row": nbytes / rows if rows else 0.0,
    }


def _steal_share(start: list[int], end: list[int]) -> float:
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta))


def _by_statement(samples: list[dict]) -> dict:
    """Cold latency and median warm latency of each named statement."""
    out: dict[str, dict] = {}
    for s in samples:
        row = out.setdefault(s["name"], {"cold_s": None, "warm": []})
        if s["pass"] == 0:
            row["cold_s"] = s["wall_s"]
        else:
            row["warm"].append(s["wall_s"])
    return {
        n: {"cold_s": r["cold_s"], "warm_median_s": statistics.median(r["warm"]) if r["warm"] else None}
        for n, r in out.items()
    }


def _spread(per_pass: list[dict]) -> dict:
    keys = per_pass[0].keys() if per_pass else ()
    return {
        k: {
            "min": min(p[k] for p in per_pass),
            "median": statistics.median(p[k] for p in per_pass),
            "max": max(p[k] for p in per_pass),
        }
        for k in keys
    }


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "arrow_datafusion_spark", "session.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tests", "oracle_harness.py")):
        print(f"perfbench: no engine checkout around {HERE}; run from the repository root",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    # a SIGTERM ends the run through the cleanup below, like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    out = _claim_stdout()
    load_start, cpu_start = os.getloadavg(), _cpu_times()
    _prepare_env(cpus)

    from perfbench.workloads import SF, Passes

    sf = args.sf if args.sf is not None else SF
    passes = Passes(args.workload, args.seed, os.path.join(WORK, "writes"))
    spark = None
    try:
        with RssSampler() as rss:
            setups = []
            for i in range(SETUPS):
                if spark is not None:
                    spark.stop()
                # the first set-up also pays interpreter start and imports
                since = T_PROCESS if not setups else time.perf_counter()
                data_dir = os.path.join(WORK, f"data{i}")
                spark, ctx, parts = _setup(data_dir, args.seed, sf)
                parts["total_s"] = time.perf_counter() - since
                setups.append(parts)
            tracer = probe = None
            if args.trace:
                tracer = Tracer()
                count_py4j(spark, tracer)
                probe = SparkProbe(spark)
            runner = Runner(spark, ctx, data_dir, Oracle(data_dir), tracer, probe)
            # a cold pass, then the warm passes that fill --seconds; with
            # --seconds below half a warm pass, the cold pass alone
            n_passes = 1 + round(args.seconds / PASS_S[args.workload])
            per_pass = []
            for p in range(n_passes):
                samples = runner.run_pass(p, passes.statements(p))
                per_pass.append(samples)
                shutil.rmtree(os.path.join(WORK, "writes"), ignore_errors=True)
            confs = {k: spark.conf.get(k) for k in CONFS}
            worker_peak_mb = rss.peak_worker_mb
        mem_peak_mb = rss.peak_mb
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the cleanup finish
        _end_processes()
        shutil.rmtree(WORK, ignore_errors=True)

    warm_passes = per_pass[1:] or per_pass
    warm = [s for p in warm_passes for s in p]
    all_samples = runner.samples
    failed = sum(1 for s in all_samples if "error" in s)
    warm_m = _pass_metrics(warm)
    e2e = {
        "setup_s": statistics.median(s["total_s"] for s in setups),
        "cold_pass_s": sum(s["wall_s"] for s in per_pass[0]),
        "latency_p50_s": warm_m["latency_p50_s"],
        "throughput_qps": warm_m["throughput_qps"],
    }
    # too few samples or too unsteady run to run to gate on (see README.md);
    # reported here and as per-layer metrics of the traced run
    ungated = {
        "latency_p90_s": warm_m["latency_p90_s"],
        "mem_peak_mb": mem_peak_mb,
        "operators.worker_rss_mb": worker_peak_mb,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": sf,
        "cores": cpus,
        "mode": "traced" if args.trace else "untraced",
        "passes": len(per_pass),
        "warm_samples": len(warm),
        "attempted": len(all_samples),
        "failed": failed,
        "error_rate": failed / len(all_samples),
        "errors": [f"{s['name']}: {s['error']}" for s in all_samples if "error" in s][:20],
        "load_avg_start": load_start,
        "load_avg_end": os.getloadavg(),
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": _steal_share(cpu_start, _cpu_times()),
        "engine_confs": confs,
        "setups": setups,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "ungated": ungated,
        "per_pass": _spread([_pass_metrics(p) | {"wall_s": sum(s["wall_s"] for s in p)}
                             for p in warm_passes]),
        "write": _write_metrics(warm),
        # fixed by the seed, so reported here rather than as layer metrics
        "sql_repeat_share": sum(1 for s in warm if s.get("repeat")) / len(warm),
        "statements": _by_statement(all_samples),
        "run_s": time.perf_counter() - T_PROCESS,
    }
    if args.trace:
        write = {k: v for k, v in _write_metrics(warm).items() if k != "write.rows"}
        layers = _layer_metrics(warm, setups, cpus) | write | ungated
        layers["trace.latency_p50_s"] = e2e["latency_p50_s"]
        layers["trace.throughput_qps"] = e2e["throughput_qps"]
        report["layers"] = layers
        report["layers_per_pass"] = _spread([
            _layer_metrics(p, setups, cpus) for p in warm_passes
        ])
        tracer.dump(os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json"))
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"report": report}), file=out)
    print(json.dumps({"correct": failed == 0, "attempted": len(all_samples),
                      "failed": failed, "metrics": metrics}), file=out)
    out.flush()
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_per_row"):
        return "B/row"
    if name.endswith("bytes"):
        return "B"
    if name.endswith("_qps"):
        return "1/s"
    if name.endswith(("util", "cover")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
