"""The one type vocabulary (arrow_datafusion_spark/typenames.py): the SQL
front end, the DataFrame registry and the DDL paths read the same tables,
so a spelling means the same Spark type on every surface."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from arrow_datafusion_spark.context import SessionContext  # noqa: E402
from arrow_datafusion_spark.functions.scalar import SCALAR as S  # noqa: E402


def test_sql_spellings_and_arrow_names_side_by_side():
    from arrow_datafusion_spark import typenames

    # the documented DDL policy keeps BIGINT UNSIGNED a BIGINT, while the
    # Arrow name UInt64 is DECIMAL(20,0)
    assert typenames.sql_type("BIGINT UNSIGNED") == "BIGINT"
    assert typenames.arrow_type("UInt64") == "DECIMAL(20,0)"
    assert typenames.sql_type("int unsigned") == "BIGINT"
    assert typenames.sql_type("VARCHAR(10)") == "STRING"
    assert typenames.sql_type("TIMESTAMP WITH TIME ZONE") == "TIMESTAMP"
    assert typenames.sql_type("int4[][]") == "ARRAY<ARRAY<INT>>"
    assert typenames.sql_type("DECIMAL(10,2)") == "DECIMAL(10,2)"
    assert typenames.arrow_type("Dictionary(Int32, Utf8)") == "STRING"
    assert typenames.arrow_type("FixedSizeList(2, Int16)") == "ARRAY<SMALLINT>"
    assert typenames.time_unit_ns("Time64(Nanosecond)") == 1
    assert typenames.arrow_name(T.DecimalType(10, 2)) == "Decimal128(10, 2)"


def test_dataframe_arrow_cast_reads_the_sql_spellings(spark):
    ctx = SessionContext(spark)
    for sql_arg, col, arrow in (
        ("make_array(1, 2)", F.array(F.lit(1), F.lit(2)), "List(Int64)"),
        ("'2020-01-01 00:00:00'", F.lit("2020-01-01 00:00:00"),
         'Timestamp(Microsecond, Some("UTC"))'),
        ("'a'", F.lit("a"), "Dictionary(Int32, Utf8)"),
    ):
        df = spark.range(1).select(S["arrow_cast"](col, arrow).alias("v"))
        via_sql = ctx.sql(f"SELECT arrow_cast({sql_arg}, '{arrow}') AS v")
        assert df.schema["v"].dataType == via_sql.schema["v"].dataType, arrow
        assert df.collect() == via_sql.collect(), arrow


def test_dataframe_arrow_typeof_names_decimals_as_sql_does(spark):
    ctx = SessionContext(spark)
    df = spark.range(1).select(
        S["arrow_typeof"](F.lit(1).cast("decimal(10,2)")).alias("d"),
        S["arrow_typeof"](F.lit(1)).alias("i"),
    )
    assert tuple(df.first()) == ("Decimal128(10, 2)", "Int32")
    got = ctx.sql("SELECT arrow_typeof(CAST(1 AS DECIMAL(10,2))) AS d").first().d
    assert got == "Decimal128(10, 2)"


def test_timestamp_with_time_zone_in_ddl_column_lists(spark, tmp_path):
    ctx = SessionContext(spark)
    ctx.sql("DROP TABLE IF EXISTS tn_tz_empty")
    ctx.sql("DROP TABLE IF EXISTS tn_tz_values")
    try:
        ctx.sql("CREATE TABLE tn_tz_empty (ts TIMESTAMP WITH TIME ZONE)")
        assert ctx.table("tn_tz_empty").schema["ts"].dataType == T.TimestampType()
        ctx.sql(
            "CREATE TABLE tn_tz_values (ts TIMESTAMP WITH TIME ZONE) "
            "AS VALUES ('2020-01-01 00:00:00')"
        )
        assert ctx.table("tn_tz_values").schema["ts"].dataType == T.TimestampType()
        assert ctx.table("tn_tz_values").count() == 1
        ctx.sql(
            "CREATE EXTERNAL TABLE tn_tz_ext (ts TIMESTAMP WITH TIME ZONE, n INT) "
            f"STORED AS PARQUET LOCATION '{tmp_path}/ext/'"
        )
        assert ctx.table("tn_tz_ext").schema["ts"].dataType == T.TimestampType()
    finally:
        ctx.sql("DROP TABLE IF EXISTS tn_tz_empty")
        ctx.sql("DROP TABLE IF EXISTS tn_tz_values")
        ctx.deregister_table("tn_tz_ext")


def test_unsigned_casts_take_the_ddl_widening(spark):
    ctx = SessionContext(spark)
    df = ctx.sql("SELECT CAST(1 AS INT UNSIGNED) AS a, CAST(1 AS BIGINT UNSIGNED) AS b")
    assert [f.dataType for f in df.schema] == [T.LongType(), T.LongType()]
    assert tuple(df.first()) == (1, 1)


def test_digest_kernels_run_on_a_fresh_session(spark):
    # the DataFrame registry calls the Python kernels itself: a session
    # where no SessionContext ever ran sql() has them too
    import hashlib

    from arrow_datafusion_spark.functions.blake3 import blake3

    fresh = spark.newSession()
    row = fresh.range(1).select(
        S["digest"](F.lit("abc"), "blake2b").alias("b2"),
        S["digest"](F.lit("abc"), "blake3").alias("b3"),
    ).first()
    assert row.b2 == hashlib.blake2b(b"abc").digest()
    assert row.b3 == blake3(b"abc")
