"""The reader behind every file-backed table — the ListingTable analog
(datafusion/core/src/datasource/listing/table.rs:617) and the read side of
``write_sink``: ``register_parquet`` / ``csv`` / ``json`` / ``avro`` /
``arrow``, CREATE EXTERNAL TABLE, the re-list after a COPY or an INSERT
into the location, and the DataFrame facade's ``read_*`` all read here.

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
  and cast. Without a schema the reader infers one from the files: a table
  does that once, at registration, and re-lists under the schema it got,
  so a re-list runs no inference job.
- **Hive partitions.** Partition values come from the ``key=value/``
  directories, typed as the schema declares; the data columns come first
  and the partition columns last (a partition column the schema does not
  declare is a string).
"""

from __future__ import annotations

import weakref

from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def read_listing(spark, fmt: str, path: str, *, schema: T.StructType | None = None,
                 partition_by=(), options: dict | None = None):
    """The files at ``path`` as a DataFrame of ``fmt`` rows.

    ``options`` are Spark reader options for parquet/csv/json (csv reads a
    header and, without a schema, infers the column types unless told
    otherwise); arrow and avro take none."""
    if fmt.lower() not in FORMATS:
        raise ValueError(f"unsupported STORED AS {fmt!r}")
    fmt = FORMATS[fmt.lower()]
    if schema is not None:
        schema = table_schema(schema, partition_by)
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
        if fmt == "arrow":
            fmt = _py_source(spark, "arrow_ipc")
        df = reader.options(**options).format(fmt).load(path)
    if schema is not None and _types(df.schema) != _types(schema):
        df = df.select(*[
            F.col("`" + f.name.replace("`", "``") + "`").cast(f.dataType).alias(f.name)
            for f in schema
        ])
    return df


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
