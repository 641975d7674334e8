"""The reader behind every file-backed table (``sources/listing.py``, the
ListingTable analog).

For every format a table's column types are fixed when it is registered:
``typeof``, DESCRIBE and ``information_schema.columns`` agree, and stay the
same after an INSERT and after a COPY into the table's location. A dropped
external table leaves no record behind, a re-list after a COPY runs no
schema-inference job, and a parenthesized INSERT source is a query, not a
column list.
"""

from __future__ import annotations

import ast
import os

import pytest

from tests.test_sink import _run

FORMATS = ("parquet", "csv", "json", "arrow", "avro")
# files hold k as BIGINT; a declared table reads it as INT
SRC = "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), (CAST(2 AS BIGINT), 'b')) AS t(k, name)"
ARROW_NAMES = {"int": "Int32", "bigint": "Int64", "string": "Utf8"}


@pytest.fixture(scope="module")
def ctx(spark):
    from arrow_datafusion_spark.context import SessionContext

    return SessionContext(spark.newSession())


def _header(fmt: str) -> str:
    return " OPTIONS ('format.has_header' 'true')" if fmt == "csv" else ""


def _types(ctx, table: str) -> list[tuple[str, str]]:
    """(column, Arrow type) pairs, after checking that DESCRIBE,
    information_schema.columns and the rows' ``typeof`` agree."""
    described = [(r[0], r[1]) for r in ctx.sql(f"DESCRIBE {table}").collect()]
    listed = [
        (r[0], r[1])
        for r in ctx.sql(
            "SELECT column_name, data_type FROM information_schema.columns "
            f"WHERE table_name = '{table}' ORDER BY ordinal_position"
        ).collect()
    ]
    assert described == listed
    for row in ctx.sql(f"SELECT typeof(k), typeof(name) FROM {table}").collect():
        assert [ARROW_NAMES[t] for t in row] == [t for _, t in described]
    return described


@pytest.mark.parametrize("declared", [True, False], ids=["declared", "inferred"])
@pytest.mark.parametrize("fmt", FORMATS)
def test_types_hold_across_writes(ctx, tmp_path, fmt, declared):
    table, loc = f"typed_{fmt}_{int(declared)}", f"{tmp_path}/t/"
    ctx.sql(f"COPY ({SRC}) TO '{loc}' STORED AS {fmt}{_header(fmt)}").collect()
    cols = "(k INT, name VARCHAR) " if declared else ""
    ctx.sql(
        f"CREATE EXTERNAL TABLE {table} {cols}STORED AS {fmt} LOCATION '{loc}'{_header(fmt)}"
    )
    types = _types(ctx, table)
    if declared:
        assert types == [("k", "Int32"), ("name", "Utf8")]
    ctx.sql(f"INSERT INTO {table} VALUES (3, 'c')").collect()
    assert _types(ctx, table) == types
    ctx.sql(f"COPY ({SRC}) TO '{loc}' STORED AS {fmt}{_header(fmt)}").collect()
    assert _types(ctx, table) == types
    rows = ctx.sql(f"SELECT k, name FROM {table}").collect()
    assert sorted(tuple(r) for r in rows) == [
        (1, "a"), (1, "a"), (2, "b"), (2, "b"), (3, "c")
    ]


def test_dropped_external_table_leaves_no_sink(ctx, tmp_path):
    loc = f"{tmp_path}/e/"
    ctx.sql(f"COPY (SELECT 1 AS a) TO '{loc}' STORED AS PARQUET").collect()
    files = sorted(os.listdir(loc))
    ctx.sql(f"CREATE EXTERNAL TABLE listing_dropped (a INT) STORED AS PARQUET LOCATION '{loc}'")
    ctx.sql("DROP TABLE listing_dropped")
    try:
        ctx.sql("CREATE TABLE listing_dropped (a INT)")
        ctx.sql("INSERT INTO listing_dropped VALUES (42)").collect()
        assert [tuple(r) for r in ctx.sql("SELECT * FROM listing_dropped").collect()] == [(42,)]
    finally:
        ctx.spark.sql("DROP TABLE IF EXISTS listing_dropped")
    assert sorted(os.listdir(loc)) == files


def test_copy_into_a_registered_directory_runs_one_job(ctx, tmp_path):
    loc = f"{tmp_path}/rc/"
    copy = f"COPY ({SRC}) TO '{loc}' STORED AS CSV OPTIONS ('format.has_header' 'true')"
    ctx.sql(copy).collect()
    ctx.register_csv("listing_rc", loc)
    assert _run(ctx, copy) == (2, 1)
    assert ctx.sql("SELECT count(*), typeof(k) FROM listing_rc GROUP BY 2").collect() == [
        (4, "int")
    ]


@pytest.mark.parametrize("external", [False, True], ids=["catalog", "external"])
def test_parenthesized_insert_source(ctx, tmp_path, external):
    table = f"listing_paren_{int(external)}"
    if external:
        ctx.sql(
            f"CREATE EXTERNAL TABLE {table} (a INT, b VARCHAR) STORED AS PARQUET "
            f"LOCATION '{tmp_path}/p/'"
        )
    else:
        ctx.sql(f"CREATE TABLE {table} (a INT, b VARCHAR)")
    try:
        assert ctx.sql(f"INSERT INTO {table} (SELECT 1, 'x')").collect() == [(1,)]
        assert ctx.sql(f"INSERT INTO {table} (VALUES (2, 'y'))").collect() == [(1,)]
        # a column list still maps by name
        assert ctx.sql(f"INSERT INTO {table} (b, a) VALUES ('z', 3)").collect() == [(1,)]
        rows = ctx.sql(f"SELECT a, b FROM {table}").collect()
        assert sorted(tuple(r) for r in rows) == [(1, "x"), (2, "y"), (3, "z")]
    finally:
        ctx.spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_context_reads_files_only_through_read_listing():
    import arrow_datafusion_spark.context as context

    tree = ast.parse(open(context.__file__).read())
    found = [
        ast.unparse(node)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Attribute)
        and node.value.attr == "read"
    ]
    assert found == []
