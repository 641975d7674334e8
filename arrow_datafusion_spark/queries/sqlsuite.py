"""SQL front-end suite: queries that enter through ``SessionContext.sql()``
(the reference's #1 entry point, datafusion/core/src/execution/context/mod.rs:457)
rather than the DataFrame API. Each entry feeds DataFusion-flavored SQL
(``::`` casts, ``~`` regex, SQL macros like strpos/date_bin/to_unixtime)
through the rewrite layer + Catalyst, oracled by DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from arrow_datafusion_spark.context import SessionContext
from arrow_datafusion_spark.session import load_tables, session_key

_CTX_CACHE: dict[tuple[str, str], SessionContext] = {}


def _ctx(spark: SparkSession, sf_dir: str) -> SessionContext:
    """One SessionContext per (session, sf_dir) — registration is idempotent
    and cheap (temp views over cached DataFrame handles)."""
    key = (session_key(spark), sf_dir)
    ctx = _CTX_CACHE.get(key)
    if ctx is None:
        ctx = SessionContext(spark)
        load_tables(spark, sf_dir)  # registers all fixture views
        _CTX_CACHE[key] = ctx
    return ctx


# --------------------------------------------------------------------------
def sql_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan→filter→agg→sort through ctx.sql, with :: casts and || concat."""
    return _ctx(spark, sf_dir).sql("""
        SELECT o_orderpriority || '!' AS prio,
               count(*)::int8 AS cnt,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS total
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        ORDER BY prio
    """)


SQL_BASIC_SQL = """
SELECT o_orderpriority || '!' AS prio,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY prio
"""


# --------------------------------------------------------------------------
def sql_tilde_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PostgreSQL ``~`` / ``!~`` regex operators → RLIKE rewrite."""
    return _ctx(spark, sf_dir).sql("""
        SELECT doc_id, lang
        FROM documents
        WHERE text ~ '^key' AND source !~ '[02468]$'
        ORDER BY doc_id
    """)


SQL_TILDE_REGEX_SQL = """
SELECT doc_id, lang
FROM documents
WHERE regexp_matches(text, '^key') AND NOT regexp_matches(source, '[02468]$')
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def sql_macros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFusion function names resolved via SQL macros: strpos, date_bin,
    to_unixtime, to_timestamp_seconds (datetime/date_bin.rs:44 et al)."""
    return _ctx(spark, sf_dir).sql("""
        SELECT event_id,
               strpos(event_type, 'i') AS p,
               date_bin(INTERVAL '15' MINUTE, ts, TIMESTAMP '1970-01-01') AS bin15,
               to_unixtime(ts) AS unix_s,
               to_timestamp_seconds(event_id + 1500000000) AS ts_s
        FROM events
        WHERE event_type ~ 'click|view'
        ORDER BY event_id
    """)


SQL_MACROS_SQL = """
SELECT event_id,
       strpos(event_type, 'i') AS p,
       time_bucket(INTERVAL '15 minutes', ts, TIMESTAMP '1970-01-01') AS bin15,
       CAST(floor(epoch(ts)) AS BIGINT) AS unix_s,
       make_timestamp((event_id + 1500000000) * 1000000) AS ts_s
FROM events
WHERE regexp_matches(event_type, 'click|view')
ORDER BY event_id
"""


# --------------------------------------------------------------------------
def sql_cte_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + correlated EXISTS + scalar subquery (Catalyst decorrelates,
    mirroring optimizer/src/decorrelate_predicate_subquery.rs)."""
    return _ctx(spark, sf_dir).sql("""
        WITH big_cust AS (
          SELECT c_custkey, c_name, c_acctbal FROM customer
          WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                                    / COUNT(*) * 1.8 FROM customer)
        )
        SELECT b.c_custkey, b.c_name,
               CAST(ROUND(CAST(b.c_acctbal AS DECIMAL(38,6)), 2) AS DOUBLE) AS bal
        FROM big_cust b
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = b.c_custkey AND o.o_orderstatus = 'F')
        ORDER BY b.c_custkey
    """)


SQL_CTE_SUBQUERY_SQL = """
WITH big_cust AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer
  WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                            / COUNT(*) * 1.8 FROM customer)
)
SELECT b.c_custkey, b.c_name,
       CAST(ROUND(CAST(b.c_acctbal AS DECIMAL(38,6)), 2) AS DOUBLE) AS bal
FROM big_cust b
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = b.c_custkey AND o.o_orderstatus = 'F')
ORDER BY b.c_custkey
"""


# --------------------------------------------------------------------------
def sql_values_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES relation (ValuesExec, physical-plan/src/values.rs:40) joined
    against a table, plus GROUP BY ordinal."""
    return _ctx(spark, sf_dir).sql("""
        SELECT v.region_class, count(*) AS n
        FROM nation n
        JOIN (VALUES (0, 'low'), (1, 'mid'), (2, 'high'), (3, 'top'), (4, 'top'))
             AS v(rk, region_class)
          ON n.n_regionkey = v.rk
        GROUP BY 1
        ORDER BY 1
    """)


SQL_VALUES_JOIN_SQL = """
SELECT v.region_class, count(*) AS n
FROM nation n
JOIN (VALUES (0, 'low'), (1, 'mid'), (2, 'high'), (3, 'top'), (4, 'top'))
     AS v(rk, region_class)
  ON n.n_regionkey = v.rk
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------------
def sql_case_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar expression kernels through SQL: CASE, IN, BETWEEN, LIKE,
    IS NULL, NOT, negation (physical-expr/src/expressions/, SURVEY.md §2.2)."""
    return _ctx(spark, sf_dir).sql("""
        SELECT p_partkey,
               CASE WHEN p_size BETWEEN 1 AND 10 THEN 'small'
                    WHEN p_size IN (15, 23, 45) THEN 'picked'
                    ELSE 'other' END AS bucket,
               (p_name LIKE '%widget%') AS is_widget,
               (p_retailprice IS NULL) AS no_price,
               -p_size AS neg_size,
               NOT (p_brand = 'Brand#1') AS not_b1
        FROM part
        WHERE p_partkey <= 500
        ORDER BY p_partkey
    """)


SQL_CASE_IN_BETWEEN_SQL = """
SELECT p_partkey,
       CASE WHEN p_size BETWEEN 1 AND 10 THEN 'small'
            WHEN p_size IN (15, 23, 45) THEN 'picked'
            ELSE 'other' END AS bucket,
       (p_name LIKE '%widget%') AS is_widget,
       (p_retailprice IS NULL) AS no_price,
       -p_size AS neg_size,
       NOT (p_brand = 'Brand#1') AS not_b1
FROM part
WHERE p_partkey <= 500
ORDER BY p_partkey
"""


# --------------------------------------------------------------------------
def sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prepared-statement analog: DataFusion ``$1`` placeholders bound
    server-side via ctx.sql(query, params) (Placeholder expr,
    datafusion/expr/src/expr.rs:925). Positional, repeated, and named
    binds all exercised; the oracle runs the same query with the literals
    inlined."""
    ctx = _ctx(spark, sf_dir)
    return ctx.sql(
        """
        SELECT c_mktsegment,
               count(*) AS n,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS bal
        FROM customer
        WHERE c_acctbal BETWEEN $1 AND $2 AND c_mktsegment <> $3
        GROUP BY c_mktsegment
        HAVING count(*) > $1 / 100
        ORDER BY c_mktsegment
        """,
        [100, 5000, "AUTOMOBILE"],
    )


SQL_PARAMS_SQL = """
SELECT c_mktsegment,
       count(*) AS n,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS bal
FROM customer
WHERE c_acctbal BETWEEN 100 AND 5000 AND c_mktsegment <> 'AUTOMOBILE'
GROUP BY c_mktsegment
HAVING count(*) > 100 / 100
ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
def sql_copy_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``COPY (query) TO 'path' STORED AS PARQUET`` through ctx.sql
    (DFStatement::CopyTo, datafusion/sql/src/statement.rs:186): the sink
    writes distributed parquet, then the written files are re-scanned and
    aggregated — a broken writer or a wrong written row set shows up
    against the fixture-side oracle."""
    import shutil

    from arrow_datafusion_spark.queries.sources import _tmp

    ctx = _ctx(spark, sf_dir)
    path = _tmp("orders_copy")
    # COPY TO a directory APPENDS files (reference semantics) — re-runs in
    # the same process must start from an empty target
    shutil.rmtree(path, ignore_errors=True)
    copied = ctx.sql(
        f"""COPY (SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM orders WHERE o_totalprice > 150000)
            TO '{path}' STORED AS PARQUET"""
    )
    assert copied.collect()[0]["count"] >= 0
    ctx.register_parquet("orders_copied", path)
    return ctx.sql("""
        SELECT o_orderstatus, count(*) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS total
        FROM orders_copied GROUP BY o_orderstatus ORDER BY o_orderstatus
    """)


SQL_COPY_TO_SQL = """
SELECT o_orderstatus, count(*) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS total
FROM orders WHERE o_totalprice > 150000
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# --------------------------------------------------------------------------
_FIXTURE_TABLES = (
    "'region','nation','customer','supplier','part','orders','lineitem',"
    "'events','documents','embeddings'"
)


def sql_info_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-queryable information_schema (information_schema.rs:45-54):
    tables ⋈ columns over the live catalog, restricted to the fixture
    tables so the result is independent of whatever else the session
    registered. DuckDB exposes the same ANSI views over its catalog, so
    the oracle is the IDENTICAL statement — a genuine cross-engine
    information_schema check, not a canned listing."""
    return _ctx(spark, sf_dir).sql(f"""
        SELECT t.table_name, CAST(count(c.column_name) AS BIGINT) AS n_cols
        FROM information_schema.tables t
        JOIN information_schema.columns c ON t.table_name = c.table_name
        WHERE t.table_name IN ({_FIXTURE_TABLES})
        GROUP BY t.table_name
        ORDER BY t.table_name
    """)


SQL_INFO_SCHEMA_SQL = f"""
SELECT t.table_name, CAST(count(c.column_name) AS BIGINT) AS n_cols
FROM information_schema.tables t
JOIN information_schema.columns c ON t.table_name = c.table_name
WHERE t.table_name IN ({_FIXTURE_TABLES})
GROUP BY t.table_name
ORDER BY t.table_name
"""


def sql_settings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET / df_settings round-trip (config.rs ConfigOptions + the
    DfSettingsTable view, set_variable.slt semantics): SET a typed value,
    then read it and two registry defaults back through SQL. The values
    are engine-defined constants, so the DuckDB oracle states them as a
    VALUES literal — a hash-exact cross-check that the SET statement
    landed and df_settings serves the registry."""
    ctx = _ctx(spark, sf_dir)
    ctx.sql("SET datafusion.execution.batch_size = 4096")
    out = ctx.sql("""
        SELECT name, value FROM information_schema.df_settings
        WHERE name IN ('datafusion.execution.batch_size',
                       'datafusion.catalog.default_catalog',
                       'datafusion.sql_parser.dialect')
        ORDER BY name
    """)
    ctx.sql("SET datafusion.execution.batch_size = 8192")
    return out


SQL_SETTINGS_SQL = """
SELECT * FROM (VALUES
    ('datafusion.catalog.default_catalog', 'datafusion'),
    ('datafusion.execution.batch_size', '4096'),
    ('datafusion.sql_parser.dialect', 'generic')
) AS t(name, value) ORDER BY name
"""


def sql_decimal_div(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal/decimal division with arrow's TRUNCATING semantics
    (arrow-arith numeric.rs decimal ``Op::Div``: result scale s1+4,
    precision p1+s2+4, i128 quotient truncates toward zero —
    decimal.slt:397's golden; typed.decimal_division). Gates both the
    col/col and the col/CAST-literal shapes; the oracle reproduces the
    truncation with exact cent-scaled integer math (values positive, so
    DuckDB's floor-div == trunc)."""
    ctx = _ctx(spark, sf_dir)
    spark.sql("""
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS DECIMAL(10,2)) AS qty,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS price
        FROM lineitem
    """).createOrReplaceTempView("lineitem_dec")
    return ctx.sql("""
        SELECT l_orderkey, l_linenumber,
               CAST(qty / price AS DOUBLE) AS qp_ratio,
               CAST(price / CAST(7 AS DECIMAL(3,0)) AS DOUBLE) AS sevenths
        FROM lineitem_dec
        ORDER BY l_orderkey, l_linenumber
        LIMIT 500
    """)


SQL_DECIMAL_DIV_SQL = """
WITH lineitem_dec AS (
  SELECT l_orderkey, l_linenumber,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
       CAST((qty_c * 1000000) // price_c AS DOUBLE) / 1000000 AS qp_ratio,
       CAST((price_c * 10000) // 7 AS DOUBLE) / 1000000 AS sevenths
FROM lineitem_dec
ORDER BY l_orderkey, l_linenumber
LIMIT 500
"""


QUERIES = {
    "sql_basic": sql_basic,
    "sql_decimal_div": sql_decimal_div,
    "sql_settings": sql_settings,
    "sql_info_schema": sql_info_schema,
    "sql_params": sql_params,
    "sql_copy_to": sql_copy_to,
    "sql_tilde_regex": sql_tilde_regex,
    "sql_macros": sql_macros,
    "sql_cte_subquery": sql_cte_subquery,
    "sql_values_join": sql_values_join,
    "sql_case_in_between": sql_case_in_between,
}
ORACLE = {
    "sql_basic": SQL_BASIC_SQL,
    "sql_decimal_div": SQL_DECIMAL_DIV_SQL,
    "sql_settings": SQL_SETTINGS_SQL,
    "sql_info_schema": SQL_INFO_SCHEMA_SQL,
    "sql_params": SQL_PARAMS_SQL,
    "sql_copy_to": SQL_COPY_TO_SQL,
    "sql_tilde_regex": SQL_TILDE_REGEX_SQL,
    "sql_macros": SQL_MACROS_SQL,
    "sql_cte_subquery": SQL_CTE_SUBQUERY_SQL,
    "sql_values_join": SQL_VALUES_JOIN_SQL,
    "sql_case_in_between": SQL_CASE_IN_BETWEEN_SQL,
}
