"""The reader behind every file-backed table — the ListingTable analog
(datafusion/core/src/datasource/listing/table.rs:617) and the read side of
``write_sink``: ``register_parquet`` / ``csv`` / ``json`` / ``avro`` /
``arrow``, CREATE EXTERNAL TABLE, the re-list after a COPY or an INSERT
into the location, the DataFrame facade's ``read_*`` and every other
parquet read in the engine (``session.load_table`` too) all read here.

``read_listing`` owns the three decisions every such read makes:

- **Format to reader.** parquet, csv and json through Spark's file
  readers; arrow through the ``arrow_ipc`` Python data source; avro through
  the spark-avro connector, or the ``avro_py`` Python data source when the
  connector is missing. Only a connector-not-found error downgrades (a bad
  path or a corrupt file propagates), and the downgrade is remembered per
  session, like the Python data source registrations.
- **The schema.** A given ``schema`` is the table's: nothing is inferred,
  and the frame has exactly its column names and types, whatever types the
  files hold (the reference's schema adapter casts each file to the table
  schema). Parquet reads integer and float columns at their widest type,
  which Spark's reader accepts from any narrower file type, and casts them
  down; the arrow reader casts each batch; avro files are read as they are
  and cast. Without one, a local parquet table's comes from a footer
  (``file_schema``, no Spark job), any other's from Spark's inference: once,
  at registration; a re-list reads under the schema it got.
- **Hive partitions.** Partition values come from the ``key=value/``
  directories, typed as the schema declares; the data columns come first
  and the partition columns last (a partition column the schema does not
  declare is a string).
"""

from __future__ import annotations

import json
import os
import weakref

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from arrow_datafusion_spark.sources.sink import local_path

# STORED AS name → format
FORMATS = {"parquet": "parquet", "csv": "csv", "json": "json",
           "ndjson": "json", "arrow": "arrow", "avro": "avro"}
_WIDEST = {T.ByteType(): T.LongType(), T.ShortType(): T.LongType(),
           T.IntegerType(): T.LongType(), T.FloatType(): T.DoubleType()}
# per SparkSession: whether the spark-avro connector answered, and which
# Python data sources are registered (each registration costs a py4j
# round-trip and a Python-worker spin-up)
_AVRO_CONNECTOR: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PY_SOURCES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def table_schema(schema: T.StructType, partition_by=()) -> T.StructType:
    """``schema`` with its data columns first and the ``partition_by``
    columns last, in that order."""
    low = {p.lower() for p in partition_by}
    by_name = {f.name.lower(): f for f in schema}
    return T.StructType(
        [f for f in schema if f.name.lower() not in low]
        + [by_name.get(p.lower(), T.StructField(p, T.StringType())) for p in partition_by]
    )


def read_listing(spark, fmt: str, path: str | list[str], *, schema: T.StructType | None = None,
                 partition_by=(), options: dict | None = None):
    """The files at ``path``, one location or several, as ``fmt`` rows.

    ``options`` are Spark reader options for parquet/csv/json (csv reads a
    header and, without a schema, infers the column types unless told
    otherwise); arrow and avro take none."""
    if fmt.lower() not in FORMATS:
        raise ValueError(f"unsupported STORED AS {fmt!r}")
    fmt = FORMATS[fmt.lower()]
    if schema is not None:
        # the casts below must target nullable types, as Spark's readers do
        schema = _nullable(table_schema(schema, partition_by))
    if fmt == "avro":
        df = _read_avro(spark, path)
    else:
        options = dict(options or {})
        reader = spark.read
        if fmt == "csv":
            options.setdefault("header", True)
            if schema is None:
                options.setdefault("inferSchema", True)
            else:
                options.pop("inferSchema", None)
        if schema is not None:
            reader = reader.schema(
                T.StructType([T.StructField(f.name, _WIDEST.get(f.dataType, f.dataType))
                              for f in schema])
                if fmt == "parquet" else schema
            )
        elif fmt == "parquet" and (found := file_schema(fmt, path, options)) is not None:
            # the files' own schema: read as it is, nothing to cast
            reader = reader.schema(found)
        if fmt == "arrow":
            fmt = _py_source(spark, "arrow_ipc")
        df = reader.options(**options).format(fmt).load(path)
    if schema is not None and _types(df.schema) != _types(schema):
        df = df.select(*[
            F.col("`" + f.name.replace("`", "``") + "`").cast(f.dataType).alias(f.name)
            for f in schema
        ])
    return df


def file_schema(fmt: str, path: str | list[str], options: dict | None = None):
    """The schema Spark's non-merging inference gives a local parquet file
    or directory of files, read on the driver from the footer of the first
    data file in name order instead of in a Spark job, with the file's own
    nullability. None, and Spark infers, for anything else: reader options,
    a list, glob or URL, hive partition directories, and footer types the
    mapping does not reproduce (INT96, nanosecond timestamps, unsigned
    integers, null)."""
    if fmt != "parquet" or options or not isinstance(path, str):
        return None
    path = local_path(path)
    names = sorted(n for n in os.listdir(path) if n[0] not in "._") if os.path.isdir(path) else []
    if names and not any(os.path.isdir(os.path.join(path, n)) for n in names):
        path = os.path.join(path, names[0])
    if not os.path.isfile(path):
        return None
    try:
        meta = pq.read_metadata(path)
        spark_json = (meta.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
        if spark_json:  # Spark wrote the file: its inference reads the schema stored here
            return T.StructType.fromJson(json.loads(spark_json))
        for i in range(meta.num_columns):
            col = meta.schema.column(i)
            logical = json.loads(col.logical_type.to_json())
            if (col.physical_type == "INT96" or logical["Type"] == "Null"
                    or logical.get("timeUnit") == "nanoseconds"
                    or logical.get("isSigned") is False):
                return None
        return from_arrow_schema(meta.schema.to_arrow_schema(), prefer_timestamp_ntz=True)
    except (OSError, ValueError, TypeError, KeyError, NotImplementedError):
        return None  # no footer the mapping reads: Spark infers, or reports why


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and map value nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                             for f in dt])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def _types(schema: T.StructType) -> list:
    return [(f.name, f.dataType) for f in schema]


def _py_source(spark, name: str) -> str:
    """Register the Python data source ``name`` once per session."""
    done = _PY_SOURCES.setdefault(spark, set())
    if name not in done:
        from arrow_datafusion_spark.sources import arrow_ipc, avro

        (avro if name == "avro_py" else arrow_ipc).register(spark)
        done.add(name)
    return name


def _read_avro(spark, path: str):
    if _AVRO_CONNECTOR.get(spark, True):
        try:
            df = spark.read.format("avro").load(path)
        except Exception as ex:
            if not _connector_missing(ex):
                raise
            _AVRO_CONNECTOR[spark] = False
        else:
            _AVRO_CONNECTOR[spark] = True
            return df
    return spark.read.format(_py_source(spark, "avro_py")).load(path)


def _connector_missing(ex: Exception) -> bool:
    # the message carries Spark's error class in brackets; the phrases
    # cover older builds that raise without one
    return any(s in str(ex) for s in (
        "DATA_SOURCE_NOT_FOUND", "Failed to find data source", "ClassNotFoundException",
        "Avro is built-in but external data source module",
    ))
