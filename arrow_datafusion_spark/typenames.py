"""The type vocabulary: every DataFusion spelling of a type, mapped to the
one Spark type that holds it, and every Spark type back to the Arrow name
the reference prints for it (SURVEY §1.2's type policy, one table).

The module hides one format, the Arrow/DataFusion type spellings. It holds
three maps:

- ``sql_type``: a SQL type spelling (a cast target or a column-list type)
  to Spark's. DataFusion's SQL planner (sql/src/planner.rs
  ``convert_data_type``) accepts PostgreSQL and MySQL names that Spark's
  parser rejects or reads differently.
- ``arrow_type``: an Arrow type name, as ``arrow_cast`` reads it, to a
  Spark SQL type; ``time_unit_ns`` for the time types Spark lacks.
- ``arrow_name`` and ``arrow_typeof_sql``: a Spark type to the Arrow name
  ``arrow_typeof`` and DESCRIBE print.

The SQL front end (sql/rewrite.py's cast-position and ``arrow_cast`` /
``arrow_typeof`` passes, context.py's CREATE column lists), the DataFrame
registry (functions/scalar.py) and DESCRIBE / information_schema read these.
``plans/`` (Substrait) and ``sources/`` (Avro and Arrow IPC, over pyarrow
type objects) map their own formats.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

# -- SQL spellings -> Spark ---------------------------------------------------

# PostgreSQL names DataFusion's SQL parser accepts that Spark spells
# differently
SQL_NAMES = {
    "text": "STRING",
    "bytea": "BINARY",
    "float4": "FLOAT",
    "float8": "DOUBLE",
    "int2": "SMALLINT",
    "int4": "INT",
    "int8": "BIGINT",
    "bool": "BOOLEAN",
}

# ``<int> UNSIGNED`` widens one tier: Spark has no unsigned integers.
# BIGINT UNSIGNED stays BIGINT, the documented DDL policy: integer
# arithmetic and display parity with the reference's UInt64 beat keeping
# the upper half-range no test uses. The Arrow name UInt64 (ARROW_TYPES)
# is DECIMAL(20,0) instead; the two policies stand side by side here.
UNSIGNED = {
    "tinyint": "SMALLINT",
    "smallint": "INT",
    "int": "BIGINT",
    "integer": "BIGINT",
    "bigint": "BIGINT",
}

# One SQL type spelling: a name, an optional length, an UNSIGNED or WITH
# TIME ZONE suffix and any number of PostgreSQL array suffixes.
SQL_SPELLING = (
    r"\w+(?:\s*\(\s*\d+\s*\))?(?:\s+UNSIGNED\b|\s+WITH\s+TIME\s+ZONE\b)?"
    r"(?:\s*\[\s*\])*"
)

# A keyword every spelling ``sql_type`` changes holds.
SQL_KEYWORDS = rf"\[\s*\]|\b(?:{'|'.join(SQL_NAMES)}|char|varchar|unsigned|zone)\b"


def sql_type(t: str) -> str:
    """Spark's spelling of the SQL type ``t``, or ``t`` unchanged where
    Spark reads it as DataFusion does."""
    m = re.fullmatch(r"(.+?)\s*\[\s*\]", t.strip())
    if m:  # PostgreSQL array suffix: T[] is ARRAY<T>
        return f"ARRAY<{sql_type(m.group(1))}>"
    tl = " ".join(t.lower().split())
    if tl in SQL_NAMES:
        return SQL_NAMES[tl]
    if tl.endswith(" unsigned") and tl[: -len(" unsigned")] in UNSIGNED:
        return UNSIGNED[tl[: -len(" unsigned")]]
    # CHAR and VARCHAR, with or without a length, are Utf8 in DataFusion.
    # Spark reads a cast to CHAR(n)/VARCHAR(n) as STRING, but rejects CHAR
    # without a length and both in a table schema.
    if re.fullmatch(r"(?:var)?char(?:\s*\(\s*\d+\s*\))?", tl):
        return "STRING"
    if tl == "timestamp with time zone":
        return "TIMESTAMP"
    return t


# -- Arrow names -> Spark -----------------------------------------------------

# Arrow type names, lowercased, with one Spark type each
ARROW_TYPES = {
    "utf8": "STRING", "largeutf8": "STRING", "utf8view": "STRING",
    "int8": "TINYINT", "int16": "SMALLINT", "int32": "INT", "int64": "BIGINT",
    "uint8": "SMALLINT", "uint16": "INT", "uint32": "BIGINT",
    "uint64": "DECIMAL(20,0)",
    "float16": "FLOAT", "float32": "FLOAT", "float64": "DOUBLE",
    "boolean": "BOOLEAN", "binary": "BINARY", "largebinary": "BINARY",
    "date32": "DATE", "date64": "DATE",
}

# Time32/Time64 units: a time of day is BIGINT nanoseconds since midnight
# here (reference types at common/src/scalar/mod.rs:206,255-261).
TIME_UNIT_NS = {
    "second": 1_000_000_000,
    "millisecond": 1_000_000,
    "microsecond": 1_000,
    "nanosecond": 1,
}


def arrow_type(t: str) -> str | None:
    """The Spark SQL type of Arrow type name ``t``, or None for a name with
    none (the time types: ``time_unit_ns``). A decimal above Spark's
    DECIMAL(38) ceiling raises (sources/arrow_ipc.py holds the same policy
    on the scan side)."""
    tl = t.strip().lower()
    m = re.fullmatch(r"decimal(?:128|256)\(\s*(\d+)\s*,\s*(-?\d+)\s*\)", tl)
    if m:
        p, s = int(m.group(1)), int(m.group(2))
        if p > 38:
            raise ValueError(
                f"Decimal256({p}, {s}) exceeds Spark's DECIMAL(38) precision ceiling"
            )
        return f"DECIMAL({p},{s})"
    m = re.fullmatch(r"dictionary\(\s*[^,]+,\s*(.+)\)", tl)
    if m:  # dictionary encoding is physical; cast to the value type
        return arrow_type(m.group(1))
    # List kinds are all ARRAY<T> in Spark (size/offset-width are physical)
    m = re.fullmatch(r"(?:large)?list\((.+)\)", tl) or re.fullmatch(
        r"fixedsizelist\(\s*\d+\s*,\s*(.+)\)", tl
    )
    if m:
        inner = arrow_type(m.group(1).strip())
        return f"ARRAY<{inner}>" if inner else None
    if re.fullmatch(r"timestamp\(\s*\w+\s*,\s*none\s*\)", tl):
        return "TIMESTAMP_NTZ"
    if re.fullmatch(r"timestamp\(\s*\w+\s*,\s*some\(.*\)\s*\)", tl):
        return "TIMESTAMP"
    return ARROW_TYPES.get(tl)


def time_unit_ns(t: str) -> int | None:
    """Nanoseconds per unit of the Arrow time type ``t`` (Time32/Time64),
    or None when ``t`` is no time type."""
    m = re.fullmatch(r"time(?:32|64)\(\s*(\w+)\s*\)", t.strip(), re.IGNORECASE)
    if m is None:
        return None
    unit = m.group(1).lower()
    if unit not in TIME_UNIT_NS:
        raise ValueError(f"unknown time unit in arrow_cast: {t!r}")
    return TIME_UNIT_NS[unit]


# -- Spark -> Arrow names -----------------------------------------------------

# Spark type names (``typeof`` / ``simpleString``) → the Arrow names the
# reference prints (functions/src/core/arrowtypeof.rs, describe.rs)
ARROW_NAMES = {
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32", "bigint": "Int64",
    "float": "Float32", "double": "Float64", "string": "Utf8",
    "boolean": "Boolean", "binary": "Binary", "date": "Date32",
    "timestamp": 'Timestamp(Microsecond, Some("UTC"))',
    "timestamp_ntz": "Timestamp(Microsecond, None)",
    "void": "Null",
}

# Spark's decimal name, and the Arrow name it renames to (regexp_replace)
DECIMAL_NAME = r"^decimal\((\d+),(\d+)\)$"
DECIMAL_ARROW = "Decimal128($1, $2)"


def arrow_typeof_sql(expr: str) -> str:
    """SQL text that names the Arrow type of ``expr`` over Spark's
    ``typeof``: the name table, then the decimal rename; any other type
    keeps its Spark name (the documented §1.2 display fallback)."""
    names = ",".join(f"'{k}','{v}'" for k, v in ARROW_NAMES.items())
    pattern = DECIMAL_NAME.replace("\\", "\\\\")
    return (
        f"coalesce(element_at(map({names}), typeof({expr})), "
        f"regexp_replace(typeof({expr}), '{pattern}', '{DECIMAL_ARROW}'))"
    )


def arrow_name(dt: T.DataType) -> str:
    """A Spark type's Arrow Debug display, what the reference's DESCRIBE
    and information_schema print (describe.rs)."""

    def field(name: str, inner: T.DataType, nullable: bool) -> str:
        return (
            f'Field {{ name: "{name}", data_type: {arrow_name(inner)}, '
            f"nullable: {str(nullable).lower()}, dict_id: 0, "
            "dict_is_ordered: false, metadata: {} }"
        )

    if isinstance(dt, T.ArrayType):
        return f"List({field('item', dt.elementType, dt.containsNull)})"
    if isinstance(dt, T.MapType):
        entries = (
            "Struct(["
            + field("key", dt.keyType, False)
            + ", "
            + field("value", dt.valueType, dt.valueContainsNull)
            + "])"
        )
        return (
            'Map(Field { name: "entries", data_type: '
            + entries
            + ", nullable: false, dict_id: 0, dict_is_ordered: false, "
            "metadata: {} }, false)"
        )
    if isinstance(dt, T.StructType):
        return (
            "Struct(["
            + ", ".join(field(f.name, f.dataType, f.nullable) for f in dt.fields)
            + "])"
        )
    if isinstance(dt, T.DecimalType):
        return f"Decimal128({dt.precision}, {dt.scale})"
    return ARROW_NAMES.get(dt.simpleString(), dt.simpleString())
