"""DataFusion-compatible configuration registry (settings.py) + SET/SHOW
statement layer (set_variable.slt / options.slt / information_schema.slt
semantics)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arrow_datafusion_spark.context import SessionContext  # noqa: E402


@pytest.fixture()
def ctx(spark):
    return SessionContext(spark)


def test_set_show_roundtrip_and_typing(ctx):
    ctx.sql("SET datafusion.execution.batch_size to '4096'")
    row = ctx.sql("SHOW datafusion.execution.batch_size").collect()[0]
    assert tuple(row) == ("datafusion.execution.batch_size", "4096")
    # case-insensitive key lookup, = and TO forms, +N parse
    ctx.sql("SET datafusion.EXECUTION.batch_size = +8192")
    assert ctx.settings.get_int("datafusion.execution.batch_size") == 8192
    with pytest.raises(ValueError, match="could not find config namespace"):
        ctx.sql("SET aabbcc to '1'")
    with pytest.raises(ValueError, match="as bool"):
        ctx.sql("SET datafusion.execution.coalesce_batches to 1")
    with pytest.raises(ValueError, match="as usize"):
        ctx.sql("SET datafusion.execution.batch_size to -1")
    with pytest.raises(ValueError, match="invalid digit"):
        ctx.sql("SET datafusion.execution.batch_size to 0.1")


def test_time_zone_aliases_and_normalization(ctx):
    ctx.sql("SET TIME ZONE = '+0800'")
    assert ctx.sql("SHOW TIME ZONE").collect()[0].value == "+0800"
    assert ctx.spark.conf.get("spark.sql.session.timeZone") == "+08:00"
    ctx.sql("SET TIMEZONE = '+07:00'")
    assert ctx.sql("SHOW TIMEZONE").collect()[0].value == "+07:00"
    ctx.sql("SET TIME ZONE = '+00:00'")  # restore session default


def test_show_all_and_df_settings(ctx):
    rows = {r.name: r.value for r in ctx.sql("SHOW ALL").collect()}
    assert len(rows) >= 75  # the full config.rs namespace (79 keys)
    assert rows["datafusion.catalog.default_catalog"] == "datafusion"
    assert rows["datafusion.sql_parser.parse_float_as_decimal"] == "false"
    assert rows["datafusion.execution.parquet.compression"] == "zstd(3)"
    via_view = {
        r.name: r.value
        for r in ctx.sql("SELECT * FROM information_schema.df_settings").collect()
    }
    assert via_view == rows
    verbose = ctx.sql("SHOW ALL VERBOSE").collect()
    assert len(verbose) == len(rows) and all(r.description for r in verbose)


def test_spark_conf_mapping(ctx):
    before = ctx.spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ctx.sql("SET datafusion.execution.target_partitions = 7")
        assert ctx.spark.conf.get("spark.sql.shuffle.partitions") == "7"
        ctx.sql("SET datafusion.optimizer.prefer_hash_join = false")
        assert ctx.spark.conf.get("spark.sql.join.preferSortMergeJoin") == "true"
        ctx.sql("SET datafusion.optimizer.prefer_hash_join = true")
    finally:
        ctx.spark.conf.set("spark.sql.shuffle.partitions", before)


def test_information_schema_gate(ctx):
    ctx.sql("SET datafusion.catalog.information_schema = false")
    try:
        with pytest.raises(ValueError, match="information_schema.tables"):
            ctx.sql("SELECT * FROM information_schema.tables")
        with pytest.raises(ValueError, match="SHOW TABLES is not supported"):
            ctx.sql("SHOW TABLES")
    finally:
        ctx.sql("SET datafusion.catalog.information_schema = true")
    # re-enabled: the five views list under the information_schema schema
    names = {
        (r.table_schema, r.table_name) for r in ctx.sql("SHOW TABLES").collect()
    }
    assert {("information_schema", v) for v in
            ("tables", "columns", "views", "schemata", "df_settings")} <= names


def test_show_columns_layouts(ctx, spark):
    ctx.register_table("settings_probe", spark.range(3).selectExpr("id AS i"))
    try:
        rows = ctx.sql("SHOW COLUMNS FROM settings_probe").collect()
        assert [tuple(r) for r in rows] == [
            ("datafusion", "public", "settings_probe", "i", "Int64", "NO")
        ]
        full = ctx.sql("SHOW FULL COLUMNS FROM settings_probe").collect()[0]
        assert (full.ordinal_position, full.numeric_precision,
                full.numeric_precision_radix) == (0, 64, 2)
        with pytest.raises(ValueError, match="WHERE or LIKE"):
            ctx.sql("SHOW COLUMNS FROM settings_probe LIKE 'f'")
        with pytest.raises(ValueError, match="not found"):
            ctx.sql('SHOW COLUMNS FROM "SETTINGS_PROBE"')
    finally:
        ctx.deregister_table("settings_probe")


def test_recursive_cte_gate_and_multi_reference(ctx):
    ctx.sql("SET datafusion.execution.enable_recursive_ctes = false")
    try:
        with pytest.raises(ValueError, match="not enabled"):
            ctx.sql(
                "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL "
                "SELECT n+1 FROM r WHERE n < 3) SELECT * FROM r"
            )
    finally:
        ctx.sql("SET datafusion.execution.enable_recursive_ctes = true")
    # multiple recursive references are rejected at plan time (the
    # reference's recursive_query.rs error) — and must NOT hang in the
    # unrolled fixpoint (each composition would embed the frontier twice)
    with pytest.raises(ValueError, match="Multiple recursive references"):
        ctx.sql(
            "WITH RECURSIVE r AS (SELECT 1 AS a UNION ALL "
            "SELECT r.a+2 AS a FROM r JOIN r c2 USING(a) WHERE r.a < 5) "
            "SELECT a FROM r"
        )


def test_recursive_cte_counts_table_reads_not_qualified_columns(ctx):
    # ``r.m`` after a comma names a column of the one read of r
    rows = ctx.sql(
        "WITH RECURSIVE r(n, m) AS (SELECT 1, 1 UNION ALL "
        "SELECT r.n + 1, r.m FROM r WHERE r.n < 3) SELECT * FROM r"
    ).collect()
    assert sorted(tuple(row) for row in rows) == [(1, 1), (2, 1), (3, 1)]
    # two reads of r, as a FROM item and a JOIN target, are still refused
    with pytest.raises(ValueError, match="Multiple recursive references"):
        ctx.sql(
            "WITH RECURSIVE r(n, m) AS (SELECT 1, 1 UNION ALL "
            "SELECT a.n + 1, b.m FROM r a JOIN r b ON a.n = b.n WHERE a.n < 3) "
            "SELECT * FROM r"
        )


def test_drop_function_registry(ctx):
    assert ctx.sql("SELECT sinh(0.0) AS x").collect()[0].x == 0.0
    ctx.sql("DROP FUNCTION sinh")
    with pytest.raises(ValueError, match="Invalid function 'sinh'"):
        ctx.sql("SELECT sinh(0.0)")
    with pytest.raises(ValueError, match="does not exist"):
        ctx.sql("DROP FUNCTION sinh")
    ctx.sql("DROP FUNCTION IF EXISTS sinh")  # no error
    # registry is per-session-context, not global
    ctx2 = SessionContext(ctx.spark)
    assert ctx2.sql("SELECT sinh(0.0) AS x").collect()[0].x == 0.0
