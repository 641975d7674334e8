"""SparkSession construction + table registration.

Mirrors the reference's ``SessionContext`` session/catalog role
(/root/reference/datafusion/core/src/execution/context/mod.rs:457 `sql`,
session state at session_state.rs:524) — but here the "engine" is a tuned
SparkSession and a set of registered temp views; Catalyst runs the whole
query lifecycle (SURVEY.md §3).

Scale notes (100 TB target):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  join-strategy switching replace DataFusion's static JoinSelection /
  EnforceDistribution physical rules (SURVEY.md §4.3).
- shuffle.partitions defaults to cores locally; on a real cluster this is
  only the AQE *initial* value (adaptive coalescing picks the final count).
- autoBroadcastJoinThreshold raised: TPC-H dims (region/nation/supplier/
  customer/part) stay broadcast-able well past SF100.
- Codegen cache sized to the plan working set (CODEGEN_CACHE_ENTRIES): 1000
  entries hold the 314 classes of the 22 TPC-H plans (~27-39 KB heap and
  ~6-7 KB metaspace each), which Spark's default 100 evicted before reuse.
  perfbench tpch_df, 10 same-seed A/B pairs (seeds 21-30, 4 cores):
  throughput_qps median 2.17 -> 2.80, latency_p50_s 0.44 -> 0.33 s, and
  14.1 -> 0 compiles per warm statement.
- Python-task floor: PySpark's worker calls importlib.invalidate_caches()
  at the start of every task, and on CPython 3.11.7 (3.12 too; not 3.13)
  that re-reads the central directory of every cached zip importer: 14 for
  pyspark.zip at 7-18 ms each and 2 for the spark-core jar at 50-54 ms
  each, 210-296 ms before each Python task starts (three workers, 4 cores;
  0.1-0.2 ms with the shim). arrow_datafusion_spark.worker, imported by
  every engine pandas UDF, installs a zip importer per worker process that
  re-reads an archive only when it changed. A user's own UDF in a worker
  that never ran an engine UDF still pays the floor.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from py4j.clientserver import ClientServer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from arrow_datafusion_spark.sources.listing import read_listing

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
EXTRA_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + EXTRA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# spark.sql.codegen.cache.maxEntries. One pass of the 22 TPC-H plans compiles
# 314 distinct generated classes at sf0.01 (290 at sf0.001); Spark's default
# of 100 evicts each class before its plan runs again. A cached entry retains
# ~27-39 KB of heap and ~6-7 KB of metaspace (~1.8 loaded classes), measured
# through the JVM's MemoryPoolMXBeans by emptying a full cache after two
# passes. 1000 entries (3x the TPC-H working set, room for the SQL front end's
# and the operators' plans in the same session) bound the cache at ~46 MB.
# The conf is static and read once per JVM, at the first codegen, so it is set
# in build_spark only: _RUNTIME_CONFS / prepare() cannot apply it to a session
# built elsewhere (the driver's plain session keeps Spark's 100).
CODEGEN_CACHE_ENTRIES = 1000

# Runtime (SQL) confs — safe to set on a session we did not build, e.g. the
# driver-provided one. Static JVM confs (memory, master) go in build_spark only.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # dims up to 64 MiB broadcast — TPC-H region/nation/supplier/part joins
    # become broadcast-hash (DataFusion CollectLeft mode, SURVEY.md §2.3).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # events.parquet stores TIMESTAMP(NANOS); Spark has no ns type — read as
    # long and convert (ns→µs truncation policy, SURVEY.md §1.2).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # write TIMESTAMP columns as INT64 TIMESTAMP(MICROS), as the reference
    # writes them, not Spark's default INT96: a deprecated physical type
    # other readers decode as nanoseconds
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Arrow-accelerated pandas UDF exchange for the operators that need it.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def build_spark(app: str = "arrow-datafusion-spark", cpus: int | None = None) -> SparkSession:
    """Build the tuned local session (tests/bench). The driver passes its own
    session to entry()/queries(); those paths only apply runtime confs."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        # PySpark's DataFrame debugging captures a Python call site and
        # pushes it to the JVM on EVERY DataFrame/Column API call (2+ extra
        # py4j round-trips each): ~0.1-0.2 s of plan construction per TPC-H
        # query. Error messages lose the Python call-site annotation; the
        # stack trace itself is unaffected. The conf is static: prepare()
        # turns it off on other sessions through PySpark's own cache.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    # static extra confs (k=v;k=v) — used by the test harness to give each
    # concurrent pytest shard a private warehouse/metastore
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            b = b.config(k, v)
    return b.getOrCreate()


def prepare(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs to an externally-built session: one
    ``spark.conf.set`` round-trip per ``_RUNTIME_CONFS`` entry, ~1.5 ms a
    call (4 cores). A static conf there would fail here on every session
    (CANNOT_MODIFY_STATIC_CONFIG), so it goes in build_spark."""
    # PySpark reads the static dataFrameDebugging conf once, into a
    # Python-side cache; on an externally-built session (the driver's) that
    # cache may already be True by now, so seed it directly.
    from pyspark.errors import utils as _err_utils

    _err_utils._enable_debugging_cache = False
    for k, v in _RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    return spark


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def session_key(spark: SparkSession) -> str:
    """The key of a per-session memo: the session's UUID. Every
    ``newSession()`` shares the applicationId, but a temp view belongs to
    one session; unlike id(spark), the UUID is never reused."""
    return spark._jsparkSession.sessionUUID()


# DataFrame handles are immutable logical plans — memoize per (session, dir,
# table): resolving and registering the 10 fixture tables afresh runs no
# Spark job but costs ~0.23 s of py4j round-trips and file listing on one
# thread, ~0.11 s on load_tables' pool (184 py4j calls; 4 cores, sf0.01). A
# memoized load_tables call makes one py4j call (~0.1 ms).
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to plain TIMESTAMP regardless of
    how the fixture stored it. Seen in the wild across driver rounds:
    - ``timestamp[us]`` NTZ (current fixture) → arrives as TIMESTAMP_NTZ;
      the session is pinned UTC so a cast to TIMESTAMP is lossless.
    - TIMESTAMP(NANOS) + nanosAsLong → arrives as BIGINT ns since epoch;
      truncate to µs with integer division (float division would promote the
      ~1.7e18 ns value to double and lose up to ~256 ns of precision).
    Shared by the batch reader below and streaming.read_events_stream so both
    execution modes see identical event-time semantics."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = read_listing(spark, "parquet", table_path(sf_dir, name))
    return normalize_ts(df) if name == "events" else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing types (ts → TIMESTAMP); a memo
    miss applies the runtime confs first (prepare)."""
    key = (session_key(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is None:
        prepare(spark)
        cached = _TABLE_CACHE[key] = _read_table(spark, sf_dir, name)
    return cached


# (session key, view name) → sf_dir it was last registered for. Re-registering
# the same view on every load_tables call costs a catalog round-trip per table
# per query (~0.05-0.08 s for the 10 fixture views); skip when nothing
# changed. If a caller re-points a view name at different data behind our back
# it must register its own view, or forget its entry here first (SessionContext
# does both: register_testdata drops its session's entries before loading).
_VIEW_CACHE: dict[tuple[str, str], str] = {}


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = ALL_TABLES
) -> dict[str, DataFrame]:
    """Load + register temp views (the `register_parquet` role of the
    reference's ListingTable, datafusion/core/src/datasource/listing/table.rs:617).

    The tables no earlier call memoized are resolved and registered after
    one prepare(), two or more of them concurrently: in PySpark's
    pinned-thread mode each pool thread drives its own JVM thread, so the
    file listings and view analyses use the cores instead of queueing on
    one py4j connection. The pool threads run in the caller's job group.
    Memo hits and a single missing table stay on the calling thread."""
    sid = session_key(spark)
    missing = [n for n in dict.fromkeys(names) if (sid, sf_dir, n) not in _TABLE_CACHE]
    if missing:
        prepare(spark)

        def register(name: str) -> DataFrame:
            df = _read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            return df

        if len(missing) == 1 or not isinstance(spark.sparkContext._gateway, ClientServer):
            # without pinned threads (PYSPARK_PIN_THREAD=false) a pool thread
            # would not carry the caller's job group
            frames = [register(n) for n in missing]
        else:
            workers = min(len(missing), spark.sparkContext.defaultParallelism)
            with ThreadPoolExecutor(workers) as pool:
                frames = list(pool.map(inheritable_thread_target(spark)(register), missing))
        for name, df in zip(missing, frames):
            _TABLE_CACHE[(sid, sf_dir, name)] = df
            _VIEW_CACHE[(sid, name)] = sf_dir
    out: dict[str, DataFrame] = {}
    for name in names:
        df = _TABLE_CACHE[(sid, sf_dir, name)]
        if _VIEW_CACHE.get((sid, name)) != sf_dir:
            df.createOrReplaceTempView(name)
            _VIEW_CACHE[(sid, name)] = sf_dir
        out[name] = df
    return out
