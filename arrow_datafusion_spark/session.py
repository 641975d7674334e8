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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    # Arrow-accelerated pandas UDF exchange for the operators that need it.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark's DataFrame debugging captures a Python call site and pushes it
    # to the JVM on EVERY DataFrame/Column API call (2+ extra py4j
    # round-trips each) — measured ~0.1-0.2 s of pure plan-construction
    # overhead per TPC-H query. Error messages lose the Python call-site
    # annotation; the stack trace itself is unaffected.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
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
    """Idempotently apply runtime confs to an externally-built session."""
    # The dataFrameDebugging conf above is read ONCE and cached Python-side;
    # on an externally-built session (the driver's) the cache may already be
    # True by the time prepare() runs, so seed it directly as well.
    try:
        from pyspark.errors import utils as _err_utils

        _err_utils._enable_debugging_cache = False
    except Exception:
        pass
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build — keep going
    return spark


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# DataFrame handles are immutable logical plans — memoize per (session, dir,
# table) so repeated queries don't re-run parquet footer/schema jobs (~100 ms
# each; at 22 bench queries × ~4 tables that is seconds of pure overhead).
# Keyed by applicationId (stable, unique per live session — unlike id(spark),
# which CPython can reuse after a stopped session is GC'd).
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing types (ts → TIMESTAMP)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    prepare(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_ts(df)
    _TABLE_CACHE[key] = df
    return df


# (appId, view name) → sf_dir it was last registered for. Re-registering the
# same view on every load_tables call costs a py4j/catalog round-trip per
# table per query (~0.15 s per TPC-H query); skip when nothing changed. If a
# caller re-points a view name at different data behind our back it must
# register its own view (SessionContext does — it never routes through here).
_VIEW_CACHE: dict[tuple[str, str], str] = {}


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = ALL_TABLES
) -> dict[str, DataFrame]:
    """Load + register temp views (the `register_parquet` role of the
    reference's ListingTable, datafusion/core/src/datasource/listing/table.rs:617)."""
    out: dict[str, DataFrame] = {}
    app = spark.sparkContext.applicationId
    for name in names:
        df = load_table(spark, sf_dir, name)
        if _VIEW_CACHE.get((app, name)) != sf_dir:
            df.createOrReplaceTempView(name)
            _VIEW_CACHE[(app, name)] = sf_dir
        out[name] = df
    return out
