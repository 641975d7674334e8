"""Source/sink suite (SURVEY.md §2.1): CSV / NDJSON / Arrow-IPC scans with
registration-time schema inference, file writers (parquet/csv/json) with
hive-partitioned round-trips, and DDL (CTAS + INSERT INTO) through ctx.sql.

Reference: CsvExec csv.rs:54, NdJsonExec json.rs:53, ArrowExec
arrow_file.rs:49, DataSinkExec insert.rs:83, file-format writers
(parquet.rs:351, csv.rs:338, json.rs:234); corpus csv_files.slt, copy.slt,
insert.slt.

Each entry materializes a derived file under a per-process temp dir (removed
at interpreter exit), reads it back through SessionContext registration, and
aggregates — the oracle computes the same aggregate straight from the
fixture parquet, so a broken writer/reader/inference path shows up as a hash
mismatch.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrow_datafusion_spark.context import SessionContext
from arrow_datafusion_spark.sources.sink import write_sink
from arrow_datafusion_spark.session import load_tables

_DEC = "decimal(38,6)"
_ROOT: str | None = None


def _tmp(name: str) -> str:
    """``name`` under this process's scratch directory, which is made on
    first use and removed at interpreter exit: the entries return lazy
    frames over its files, so nothing in it can go earlier."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix=f"adfspark-{os.getpid()}-")
        atexit.register(shutil.rmtree, _ROOT, True)
    return os.path.join(_ROOT, name)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir, names=(name,))[name]


# --------------------------------------------------------------------------
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → csv (header) → register_csv with schema inference →
    filtered aggregate. Exercises CsvExec + csv writer both ways."""
    ctx = SessionContext(spark)
    path = _tmp("customer_csv")
    write_sink(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal"),
        "csv",
        path,
        layout="overwrite",
        options={"header": True},
    )
    ctx.register_csv("customer_csv", path)
    return ctx.sql("""
        SELECT c_mktsegment, count(*) AS n,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS bal
        FROM customer_csv
        WHERE c_acctbal > 0
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """)


SCAN_CSV_SQL = """
SELECT c_mktsegment, count(*) AS n,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS bal
FROM customer
WHERE c_acctbal > 0
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
def scan_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events (sans timestamp) → newline-delimited JSON → register_json →
    aggregate. Exercises NdJsonExec + json writer."""
    ctx = SessionContext(spark)
    path = _tmp("events_json")
    write_sink(
        _t(spark, sf_dir, "events").select("event_id", "event_type", "value"),
        "json",
        path,
        layout="overwrite",
    )
    ctx.register_json("events_json", path)
    return ctx.sql("""
        SELECT event_type, count(*) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total
        FROM events_json
        GROUP BY event_type ORDER BY event_type
    """)


SCAN_NDJSON_SQL = """
SELECT event_type, count(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total
FROM events
GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
def scan_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → per-partition Arrow IPC files (executor-side
    mapInArrow sink — nothing through the driver) → register_arrow
    (batch-parallel arrow_ipc data source, ArrowExec role) → per-lang
    aggregate."""
    ctx = SessionContext(spark)
    path = _tmp("documents_arrow")
    write_sink(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars"),
        "arrow",
        path,
        layout="overwrite",
    )
    ctx.register_arrow("documents_arrow", path)
    return ctx.sql("""
        SELECT lang, count(*) AS n, sum(n_chars) AS chars
        FROM documents_arrow GROUP BY lang ORDER BY lang
    """)


SCAN_ARROW_SQL = """
SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
def scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → Avro container files (deflate, one per partition,
    executor-side — nothing through the driver) →
    register_avro (spark-avro jar absent here, so the pure-Python
    block-parallel DataSource in sources/avro.py serves the scan) →
    per-nation aggregate."""
    ctx = SessionContext(spark)
    path = _tmp("supplier_avro")
    schema = {
        "type": "record",
        "name": "supplier",
        "fields": [
            {"name": "s_suppkey", "type": "long"},
            {"name": "s_name", "type": ["null", "string"]},
            {"name": "s_nationkey", "type": "long"},
            {"name": "s_acctbal", "type": "double"},
        ],
    }
    write_sink(
        _t(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
        ),
        "avro",
        path,
        layout="overwrite",
        options={"schema": schema, "codec": "deflate", "rows_per_block": 64},
    )
    ctx.register_avro("supplier_avro", path)
    return ctx.sql("""
        SELECT s_nationkey, count(*) AS n,
               CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS bal
        FROM supplier_avro GROUP BY s_nationkey ORDER BY s_nationkey
    """)


SCAN_AVRO_SQL = """
SELECT s_nationkey, count(*) AS n,
       CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS bal
FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
"""


# --------------------------------------------------------------------------
def scan_avro_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro COMPLEX types through the pure-Python reader (the
    avro_to_arrow/schema.rs composite coverage): an array field, a map
    field, and a nested record per row, written executor-side, read back
    block-parallel, and unpacked with Spark array/map/struct accessors."""
    ctx = SessionContext(spark)
    path = _tmp("nation_avro_nested")
    schema = {
        "type": "record",
        "name": "nation_nested",
        "fields": [
            {"name": "n_nationkey", "type": "long"},
            {"name": "words", "type": {"type": "array", "items": "string"}},
            {"name": "stats", "type": {"type": "map", "values": "long"}},
            {
                "name": "info",
                "type": {
                    "type": "record",
                    "name": "info",
                    "fields": [
                        {"name": "name", "type": "string"},
                        {"name": "region", "type": "long"},
                    ],
                },
            },
        ],
    }
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.split("n_name", "A").alias("words"),
        F.create_map(
            F.lit("len"), F.length("n_name").cast("long"),
            F.lit("key2"), (F.col("n_nationkey") * 2).cast("long"),
        ).alias("stats"),
        F.struct(
            F.col("n_name").alias("name"),
            F.col("n_regionkey").cast("long").alias("region"),
        ).alias("info"),
    )
    write_sink(
        nation,
        "avro",
        path,
        layout="overwrite",
        options={"schema": schema, "codec": "deflate", "rows_per_block": 8},
    )
    ctx.register_avro("nation_nested", path)
    return ctx.sql("""
        SELECT n_nationkey,
               size(words) AS n_words,
               words[1] AS first_word,
               stats['len'] AS comment_len,
               stats['key2'] AS key2,
               info.name AS name,
               info.region AS region
        FROM nation_nested ORDER BY n_nationkey
    """)


SCAN_AVRO_NESTED_SQL = """
SELECT n_nationkey,
       len(string_split(n_name, 'A')) AS n_words,
       string_split(n_name, 'A')[1] AS first_word,
       CAST(length(n_name) AS BIGINT) AS comment_len,
       n_nationkey * 2 AS key2,
       n_name AS name,
       CAST(n_regionkey AS BIGINT) AS region
FROM nation ORDER BY n_nationkey
"""


# --------------------------------------------------------------------------
def write_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet write (partitionBy) → directory re-scan →
    partition-pruned aggregate: the ListingTable + DataSinkExec round trip.
    The filter on the partition column must prune directories at 100 TB."""
    ctx = SessionContext(spark)
    path = _tmp("lineitem_part")
    write_sink(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
        ),
        "parquet",
        path,
        layout="overwrite",
        partition_by=["l_returnflag"],
    )
    ctx.register_parquet("lineitem_rt", path)
    return ctx.sql("""
        SELECT l_returnflag, count(*) AS n,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE) AS qty
        FROM lineitem_rt
        WHERE l_returnflag IN ('A', 'R')
        GROUP BY l_returnflag ORDER BY l_returnflag
    """)


WRITE_PARQUET_ROUNDTRIP_SQL = """
SELECT l_returnflag, count(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE) AS qty
FROM lineitem
WHERE l_returnflag IN ('A', 'R')
GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
def sql_ddl_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL/DML through ctx.sql: CTAS into an external parquet table, then
    INSERT INTO appends, then query (Statement/Dml plan variants;
    insert.slt / ddl.slt shape)."""
    ctx = SessionContext(spark)
    load_tables(spark, sf_dir, names=("nation", "region"))
    # fresh empty dir per invocation — CTAS refuses a non-empty LOCATION
    loc = tempfile.mkdtemp(prefix="nation-summary-", dir=_tmp(""))
    ctx.sql("DROP TABLE IF EXISTS nation_summary")
    ctx.sql(f"""
        CREATE TABLE nation_summary USING PARQUET LOCATION '{loc}'
        AS SELECT n_regionkey, count(*) AS n_nations
           FROM nation WHERE n_nationkey < 20 GROUP BY n_regionkey
    """)
    ctx.sql("""
        INSERT INTO nation_summary
        SELECT n_regionkey + 100, count(*) FROM nation
        WHERE n_nationkey >= 20 GROUP BY n_regionkey
    """)
    return ctx.sql(
        "SELECT n_regionkey, n_nations FROM nation_summary ORDER BY n_regionkey"
    )


SQL_DDL_INSERT_SQL = """
SELECT n_regionkey, n_nations FROM (
  SELECT n_regionkey, count(*) AS n_nations
  FROM nation WHERE n_nationkey < 20 GROUP BY n_regionkey
  UNION ALL
  SELECT n_regionkey + 100, count(*) FROM nation
  WHERE n_nationkey >= 20 GROUP BY n_regionkey
) ORDER BY n_regionkey
"""


# --------------------------------------------------------------------------
# (appId, sf_dir) → (lineitem table name, orders table name) — bucketed
# copies are written once per session+scale, like a real lakehouse layout.
_BUCKETED: dict[tuple[str, str], tuple[str, str]] = {}


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _BUCKETED.get(key)
    if cached is not None:
        return cached
    tag = "".join(c if c.isalnum() else "_" for c in os.path.basename(sf_dir.rstrip("/")))
    names = (f"lineitem_bkt_{tag}", f"orders_bkt_{tag}")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    for df, name, bucket_col in (
        (li, names[0], "l_orderkey"),
        (orders, names[1], "o_orderkey"),
    ):
        (
            df.write.format("parquet")
            .bucketBy(8, bucket_col)
            .sortBy(bucket_col)
            .option("path", _tmp(name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    _BUCKETED[key] = names
    return names


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join over BUCKETED storage: lineitem and orders are
    written bucketed (8 buckets) and sorted by their order key — Spark's
    analog of the reference's pre-partitioned ListingTable layouts
    (output_ordering / Distribution in datafusion/core/src/datasource/
    listing/table.rs) — so the join needs NO exchange on either side: each
    task merge-joins bucket i with bucket i straight off storage. At 100 TB
    this is THE technique for repeated fact-to-fact joins — the shuffle is
    paid once at write time, not per query (tests/test_plans.py asserts the
    exchange-free plan)."""
    li_name, ord_name = _bucketed_tables(spark, sf_dir)
    li, orders = spark.table(li_name), spark.table(ord_name)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_orderstatus")
    )


BUCKETED_JOIN_SQL = """
SELECT o_orderstatus,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


QUERIES = {
    "scan_csv": scan_csv,
    "scan_ndjson": scan_ndjson,
    "scan_arrow": scan_arrow,
    "scan_avro": scan_avro,
    "scan_avro_nested": scan_avro_nested,
    "write_parquet_roundtrip": write_parquet_roundtrip,
    "sql_ddl_insert": sql_ddl_insert,
    "bucketed_join": bucketed_join,
}
ORACLE = {
    "scan_csv": SCAN_CSV_SQL,
    "scan_ndjson": SCAN_NDJSON_SQL,
    "scan_arrow": SCAN_ARROW_SQL,
    "scan_avro": SCAN_AVRO_SQL,
    "scan_avro_nested": SCAN_AVRO_NESTED_SQL,
    "write_parquet_roundtrip": WRITE_PARQUET_ROUNDTRIP_SQL,
    "sql_ddl_insert": SQL_DDL_INSERT_SQL,
    "bucketed_join": BUCKETED_JOIN_SQL,
}
