"""SessionContext — the engine's front door, mirroring DataFusion's
``SessionContext`` (reference: datafusion/core/src/execution/context/mod.rs:457
``sql``, :state at session_state.rs:524; DataFrame entry SURVEY.md §3.2).

The Spark-first design: ``sql()`` hands the (lightly rewritten) query string to
``spark.sql`` so Catalyst runs the entire lifecycle (parse → analyze →
optimize → physical plan → AQE), exactly the pipeline DataFusion hand-rolls in
SURVEY.md §3.1 steps 1–7. Registration methods map 1:1:

    DataFusion                                  here
    ----------                                  ----
    ctx.register_parquet(name, path)            same (sources/listing.py
    ctx.register_csv / json / avro / arrow      read_listing + view; the
    CREATE EXTERNAL TABLE                       ListingTable role)
    ctx.register_table(name, provider)          register_table(name, df)
    ctx.table(name)                             same
    ctx.sql(q) -> DataFrame                     same (returns pyspark DataFrame)
    ctx.register_udf/udaf                       register_udf / register_pandas_udf
    information_schema                          Spark catalog (SHOW TABLES ...)

At 100 TB nothing here adds overhead: registration is lazy (views over file
scans keep predicate pushdown + partition pruning), and the rewrite layer is
string-level only (no extra plan nodes).
"""

from __future__ import annotations

import os
import re
import weakref
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType
from pyspark.sql import functions as F  # noqa: F401  (re-exported for users)

from arrow_datafusion_spark import typenames
from arrow_datafusion_spark.session import (
    _VIEW_CACHE,
    ALL_TABLES,
    DEFAULT_SF_DIR,
    build_spark,
    load_tables,
    prepare,
    session_key,
)
from arrow_datafusion_spark.sources.avro import avro_schema_of
from arrow_datafusion_spark.sources.listing import FORMATS, file_schema, read_listing, table_schema
from arrow_datafusion_spark.sources.sink import (
    EXT_FORMATS,
    file_target_format,
    has_files,
    local_path,
    write_sink,
)
from arrow_datafusion_spark.sql.lex import (
    LIT,
    Lexed,
    close,
    lex,
    split,
    top_level,
)
from arrow_datafusion_spark.sql.rewrite import LITERAL_PASSES, REWRITE_PASSES, Scope, run_passes
from arrow_datafusion_spark.sql.typed import TYPED_PASSES, Relations

# The front end's rewrite passes after LITERAL_PASSES, in run order: the
# type-aware ones, then the stateless layer.
PASSES = TYPED_PASSES + REWRITE_PASSES

# SQL-macro definitions (Spark 4 SQL UDFs) registered once per session so
# DataFusion's function names resolve inside ctx.sql() even where Spark's
# builtin has a different name / argument order. All pure SQL — JVM-side,
# codegen-friendly, no Python round trip.
_SQL_MACROS = (
    # datafusion/functions/src/unicode/strpos.rs (args: string, substring)
    "CREATE OR REPLACE TEMPORARY FUNCTION strpos(s STRING, sub STRING) "
    "RETURNS INT RETURN locate(sub, s)",
    # datafusion/functions/src/datetime/date_bin.rs:44 — fixed-width bucketing
    "CREATE OR REPLACE TEMPORARY FUNCTION date_bin("
    "stride INTERVAL DAY TO SECOND, ts TIMESTAMP, origin TIMESTAMP) "
    "RETURNS TIMESTAMP RETURN timestamp_micros(CAST("
    "unix_micros(ts) - pmod(unix_micros(ts) - unix_micros(origin), "
    "CAST((extract(SECOND FROM stride) + 60*extract(MINUTE FROM stride) + "
    "3600*extract(HOUR FROM stride) + 86400*extract(DAY FROM stride)) * 1000000 "
    "AS BIGINT)) AS BIGINT))",
    # datafusion/functions/src/datetime/to_unixtime.rs
    "CREATE OR REPLACE TEMPORARY FUNCTION to_unixtime(ts TIMESTAMP) "
    "RETURNS BIGINT RETURN unix_timestamp(ts)",
    # NULL separator splits per character; EMPTY separator does NOT split
    # (Postgres string_to_array('abc','') = {abc}; array.slt:6433)
    "CREATE OR REPLACE TEMPORARY FUNCTION string_to_array(s STRING, sep STRING) "
    "RETURNS ARRAY<STRING> RETURN CASE WHEN sep = '' THEN array(s) "
    "ELSE split(s, CASE WHEN sep IS NULL THEN '' "
    "ELSE regexp_replace(sep, '([\\\\^$.|?*+()\\\\[\\\\]{}])', '\\\\\\\\$1') END) END",
    # datafusion/functions/src/math/gcd.rs, lcm.rs — Euclid as a bounded
    # fold (63 iterations covers any int64 pair; same construction as the
    # DataFrame registry's _gcd, expressed in SQL)
    "CREATE OR REPLACE TEMPORARY FUNCTION gcd(x BIGINT, y BIGINT) "
    "RETURNS BIGINT RETURN aggregate(sequence(1, 63), "
    "named_struct('a', abs(x), 'b', abs(y)), "
    "(acc, i) -> IF(acc.b = 0, acc, named_struct('a', acc.b, 'b', acc.a % acc.b)), "
    "acc -> acc.a)",
    "CREATE OR REPLACE TEMPORARY FUNCTION lcm(x BIGINT, y BIGINT) "
    "RETURNS BIGINT RETURN IF(x = 0 OR y = 0, 0, abs((x div gcd(x, y)) * y))",
    # datafusion/functions/src/math/nans.rs iszero (no Spark builtin)
    "CREATE OR REPLACE TEMPORARY FUNCTION iszero(x DOUBLE) "
    "RETURNS BOOLEAN RETURN x = CAST(0.0 AS DOUBLE)",
)


# simpleString → widening rank; a cast up the ranks never nulls a value
_WIDENING = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3, "float": 4, "double": 5}


def _cast_keeps_values(src, dst) -> bool:
    """Whether casting any non-NULL ``src`` value to ``dst`` yields a
    non-NULL value, so an INSERT's lossy-cast check cannot fire."""
    a, b = src.simpleString(), dst.simpleString()
    return (
        a == b
        or a == "void"
        or b == "string"
        or (a in _WIDENING and b in _WIDENING and _WIDENING[a] <= _WIDENING[b])
        or {a, b} <= {"date", "timestamp", "timestamp_ntz"}
    )


def _by_position(df: DataFrame) -> DataFrame:
    """``df`` with its columns renamed ``_0``, ``_1``, ...: a source column
    is then looked up by its position. A generated name such as ``1.5``
    would re-parse as the path `1`.`5`, and two equal names are ambiguous."""
    return df.toDF(*(f"_{i}" for i in range(len(df.columns))))


def _written_rows(done: DataFrame) -> int:
    """Rows an INSERT that spark.sql ran eagerly wrote: its write command's
    ``numOutputRows`` metric, read off the executed plan (no job). AQE
    wraps the command in a result stage when its source shuffles."""
    node = done._jdf.queryExecution().executedPlan().commandPhysicalPlan()
    while (name := node.getClass().getSimpleName()) != "DataWritingCommandExec":
        node = node.executedPlan() if name == "AdaptiveSparkPlanExec" else node.plan()
    return node.metrics().get("numOutputRows").get().value()


# DataFusion aws.* OPTION keys → per-bucket fs.s3a.bucket.<b>.* conf keys
# (datafusion-cli/src/object_storage.rs get_s3_object_store_builder)
_S3_OPTION_MAP = {
    "aws.access_key_id": "access.key",
    "aws.secret_access_key": "secret.key",
    "aws.session_token": "session.token",
    "aws.token": "session.token",
    "aws.region": "endpoint.region",
    "aws.endpoint": "endpoint",
}


def _resolve_object_store_location(spark, path: str, options=None) -> str:
    """Map a DataFusion object-store URL + OPTIONS onto Spark's Hadoop
    filesystem config and return the Spark-readable path.

    Mirrors datafusion-cli/src/object_storage.rs: ``s3://`` (AWS),
    ``oss://`` (Alibaba, S3-compatible w/ endpoint), ``cos://`` (Tencent,
    S3-compatible w/ endpoint) build an S3 client; ``gs://`` builds a GCS
    client. Spark-side: all S3-compatible schemes route through s3a with
    per-bucket configuration so two buckets with different credentials
    coexist in one session; GCS routes through the gs connector. Pure
    registration — no I/O, no connector-jar requirement until read time."""
    m = re.match(r"([A-Za-z][A-Za-z0-9+.-]*)://([^/]+)", path)
    if not m:
        return path
    scheme, bucket = m.group(1).lower(), m.group(2)
    opts = {k.lower(): v for k, v in (options or {}).items()}
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if scheme in ("s3", "s3a", "oss", "cos"):
        prefix = f"fs.s3a.bucket.{bucket}."
        for k, v in opts.items():
            if k in _S3_OPTION_MAP:
                hconf.set(prefix + _S3_OPTION_MAP[k], v)
            elif k == "aws.allow_http":
                hconf.set(
                    prefix + "connection.ssl.enabled",
                    "false" if v.lower() in ("true", "1") else "true",
                )
        if scheme in ("oss", "cos") and "aws.endpoint" not in opts:
            # reference requires an explicit endpoint for oss/cos
            raise ValueError(
                f"{scheme}:// locations require OPTIONS('aws.endpoint' ...)"
            )
        if any(k in opts for k in _S3_OPTION_MAP) or "aws.allow_http" in opts:
            # explicit credentials: pin the per-bucket provider to simple
            # static credentials instead of the default provider chain
            hconf.set(
                prefix + "aws.credentials.provider",
                "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider",
            )
        return "s3a://" + path.split("://", 1)[1]
    if scheme in ("gs", "gcs"):
        if "gcp.service_account_path" in opts:
            hconf.set(
                "google.cloud.auth.service.account.json.keyfile",
                opts["gcp.service_account_path"],
            )
        return "gs://" + path.split("://", 1)[1]
    return path


# INSERT INTO name [(column list)]: parentheses open a column list unless a
# query starts inside them — `INSERT INTO t (SELECT ...)` / `(VALUES ...)`
# is a parenthesized source
_INSERT_HEAD = (
    r"\s*INSERT\s+INTO\s+[A-Za-z_][A-Za-z0-9_]*\s*"
    r"(?:\((?!\s*(?:SELECT|VALUES|WITH)\b)([^)]*)\))?"
)


def _listing_base(path: str) -> str:
    """A table location up to its first glob character."""
    return re.split(r"[*?\[]", path, 1)[0].rstrip("/")


def _column_defs_to_ddl(cols: str, normalize: bool = True) -> str:
    """'name type, ...' column defs → Spark DDL schema string: split on
    top-level commas only (types like DECIMAL(10,2) contain commas) and map
    each type spelling (typenames.sql_type)."""
    defs = []
    for coldef in (d.strip() for d in split(cols)):
        if not coldef:
            continue
        cname, _, ctype = coldef.partition(" ")
        ctype = ctype.strip()
        # quoted identifiers: '"date" DATE' → backticked Spark DDL,
        # case preserved; UNQUOTED names lowercase — the reference's
        # enable_ident_normalization (default true, ddl.slt's
        # "Check column name is in uppercase" golden)
        if cname[:1] == '"' and cname[-1:] == '"':
            cname = f"`{cname[1:-1]}`"
        elif cname[:1] != "`" and normalize:
            cname = cname.lower()
        # DEFAULT clauses are recorded separately (_constraints)
        # and applied at INSERT time — strip them from the DDL type
        ctype = re.sub(r"\s+DEFAULT\s+.+$", "", ctype, flags=re.IGNORECASE | re.DOTALL)
        # constraint suffixes are advisory here (Spark DDL schema
        # strings carry no NOT NULL) — drop them
        ctype = re.sub(
            r"\s+(?:NOT\s+NULL|NULL|PRIMARY\s+KEY|UNIQUE)\s*$",
            "",
            ctype,
            flags=re.IGNORECASE,
        )
        defs.append(f"{cname} {typenames.sql_type(ctype)}")
    return ", ".join(defs)


def _parse_with_ctes(lx: Lexed) -> tuple[list[tuple[str, tuple[str, ...] | None, str]], str]:
    """Parse ``WITH RECURSIVE name[(cols)] AS ( body ) [, ...] rest``;
    the bodies and rest are shielded text.

    Hand-rolled cursor over balanced parentheses — mirrors the statement
    shapes in the reference's cte.slt; not a full SQL grammar.
    """
    query = lx.text
    m = re.match(r"\s*WITH\s+RECURSIVE\s+", query, re.IGNORECASE)
    pos = m.end()
    ctes: list[tuple[str, tuple[str, ...] | None, str]] = []
    while True:
        m = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*", re.IGNORECASE).match(query, pos)
        if not m:
            raise ValueError(
                f"cannot parse CTE name at: {lx.unshield(query[pos:pos + 40])!r}"
            )
        name = m.group(1)
        pos = m.end()
        cols: tuple[str, ...] | None = None
        if query[pos : pos + 1] == "(" and (end := close(query, pos)) is not None:
            cols = tuple(c.strip() for c in split(query[pos + 1 : end]))
            pos = end + 1
        m = re.compile(r"\s*AS\s*\(", re.IGNORECASE).match(query, pos)
        if not m:
            raise ValueError(f"expected AS ( at: {lx.unshield(query[pos:pos + 40])!r}")
        start = m.end()
        end = close(query, start - 1)
        if end is None:
            raise ValueError(
                f"unbalanced CTE body at: {lx.unshield(query[start:start + 40])!r}"
            )
        i = end + 1
        ctes.append((name, cols, query[start:end]))
        m = re.compile(r"\s*,").match(query, i)
        if not m:
            return ctes, query[i:]
        pos = m.end()


def _split_recursive_union(body: str) -> tuple[str, str, bool]:
    """Split a recursive CTE body at its LAST top-level UNION [ALL] (the
    recursive term is the final branch, per PostgreSQL/DataFusion semantics).
    Returns (base_sql, step_sql, distinct) of shielded text."""
    last = None
    for last in top_level(body, r"\bUNION(?:\s+ALL)?\b"):
        pass
    if last is None:
        raise ValueError("recursive CTE body has no top-level UNION")
    distinct = "ALL" not in last.group(0).upper()
    return body[: last.start()], body[last.end() :], distinct


# one OPTIONS entry: a key (a dotted name or a quoted string), then an
# optional `=` and a value (a quoted string, a number or a bare word)
_OPTION = re.compile(r"\s*([^\s=]+)\s*(?:=?\s*([^\s=]+))?\s*")


def _parse_options(lx: Lexed, body: str | None) -> dict[str, str]:
    """An ``OPTIONS (...)`` body (shielded) → lower-cased key → value, as
    parser.rs ``parse_value_options`` reads it: comma-separated ``key
    value`` entries whose key and value may each be quoted or bare. A key
    alone reads ``true``; an entry of more than two tokens (``'k' 55 +
    102``) is an error, as the reference rejects a non-literal value."""
    opts: dict[str, str] = {}
    for item in split(body or ""):
        if not item.strip():
            continue
        m = _OPTION.fullmatch(item)
        if not m:
            raise ValueError(f"invalid OPTIONS entry: {lx.unshield(item).strip()!r}")
        key, value = (t if t is None or lx.literal(t) is None else lx.string(t)
                      for t in m.groups())
        opts[key.lower()] = "true" if value is None else value
    return opts


# the clauses each statement's tail takes (parser.rs parse_copy,
# parse_create_external_table)
_COPY_CLAUSES = frozenset(("stored", "partitioned", "options"))
_EXTERNAL_CLAUSES = _COPY_CLAUSES | {
    "location", "order", "header", "delimiter", "compression"
}
# COPY's source (after a parenthesized query, if any) and its target
_COPY_TO = re.compile(rf"(.*?)\s*\bTO\s+({LIT})", re.IGNORECASE | re.DOTALL)


def _scan_clauses(lx: Lexed, rest: str, allowed: frozenset[str]) -> dict:
    """The clause tail of COPY and CREATE EXTERNAL TABLE, scanned as
    parser.rs ``parse_copy`` and ``parse_create_external_table`` scan it:
    the clauses may appear in any order, each at most once (WITH ORDER may
    repeat), and nothing else is accepted. ``allowed`` names the clauses
    the statement takes, of ``stored``, ``location``, ``options``,
    ``partitioned``, ``order``, ``header``, ``delimiter`` and
    ``compression``; any other token, a repeated clause or a malformed one
    raises the reference's ParserError shape. ``rest`` is shielded text.
    Returns ``fmt``, ``location``, ``options`` (parsed, see
    ``_parse_options``), ``partitioned`` (the shielded parenthesis body),
    ``header_row`` and ``delimiter``; an absent clause reads None (False
    for ``header_row``)."""
    n = len(rest)
    seen: set[str] = set()
    out: dict = {"fmt": None, "location": None, "options": None,
                 "partitioned": None, "header_row": False, "delimiter": None}

    def once(clause: str, label: str) -> None:
        if clause in seen:
            raise ValueError(f'ParserError("{label} specified more than once")')
        seen.add(clause)

    def paren(j: int) -> tuple[int, int]:
        """The span of the parenthesis that opens at ``j`` after blanks."""
        while j < n and rest[j].isspace():
            j += 1
        if j >= n or rest[j] != "(":
            tok = re.match(r"(\S+)", rest[j:])
            raise ValueError(
                f'ParserError("Expected (, found: {tok.group(1) if tok else "EOF"}")'
            )
        end = close(rest, j)
        if end is None:
            raise ValueError('ParserError("Expected ), found: EOF")')
        return j, end + 1

    def clause(name: str, pattern: str) -> re.Match | None:
        return re.match(pattern, tail, re.IGNORECASE) if name in allowed else None

    i = 0
    while True:
        while i < n and (rest[i].isspace() or rest[i] == ";"):
            i += 1
        if i >= n:
            return out
        tail = rest[i:]
        if m := clause("stored", r"STORED\s+AS\s+(\w+)"):
            once("stored", "STORED AS")
            out["fmt"] = m.group(1).lower()
            i += m.end()
        elif m := clause("location", rf"LOCATION\s+({LIT})"):
            once("location", "LOCATION")
            out["location"] = lx.string(m.group(1))
            i += m.end()
        elif m := clause("options", r"OPTIONS\b"):
            once("options", "OPTIONS")
            start, i = paren(i + m.end())
            out["options"] = _parse_options(lx, rest[start + 1 : i - 1])
        elif m := clause("partitioned", r"PARTITIONED\b(\s+BY\b)?"):
            if not m.group(1):
                nxt = re.match(r"PARTITIONED\s+(\S+)", tail, re.IGNORECASE)
                raise ValueError(
                    f'ParserError("Expected BY, found: {nxt.group(1) if nxt else "EOF"}")'
                )
            once("partitioned", "PARTITIONED BY")
            start, i = paren(i + m.end())
            out["partitioned"] = rest[start + 1 : i - 1]
        elif m := clause("order", r"WITH\s+ORDER\b"):
            i = paren(i + m.end())[1]
        elif m := clause("header", r"WITH\s+HEADER\b(\s+ROW\b)?"):
            if not m.group(1):
                nxt = re.match(r"WITH\s+HEADER\s+(\S+)", tail, re.IGNORECASE)
                raise ValueError(
                    f'ParserError("Expected ROW, found: {nxt.group(1) if nxt else "EOF"}")'
                )
            out["header_row"] = True
            i += m.end()
        elif m := clause("order", r"WITH\s+(\w+)"):
            raise ValueError(f'ParserError("Expected HEADER, found: {m.group(1)}")')
        elif m := clause("delimiter", rf"DELIMITER\s+({LIT})"):
            out["delimiter"] = lx.string(m.group(1))
            i += m.end()
        elif m := clause("compression", r"COMPRESSION\s+TYPE\s+\w+"):
            i += m.end()
        else:
            tok = re.match(r"(\S+)", tail)
            raise ValueError(
                f'ParserError("Unexpected token {lx.unshield(tok.group(1))}")'
            )


# a single-part SQL identifier: the names a temp view can take
_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def _key(name: str) -> str:
    """A table's record key: the identifier as the reference normalizes an
    unquoted one (lower-cased), which is also how Spark's case-insensitive
    catalog names temp views and managed tables."""
    return name.lower()


@dataclass
class _Table:
    """One session table's state (the reference's TableProvider,
    provider.rs:38: schema, constraints, column defaults and source)."""

    # the registered frame; None for a managed table Spark holds
    df: DataFrame | None = None
    # a file-backed table (the ListingTable role): {fmt, path, schema,
    # parts, options}; one over a local location is also an INSERT sink
    # (FileSinkExec) and carries single_file and unbounded. A write under
    # the location re-lists the table (_relist) under the fixed schema: a
    # Spark path DataFrame pins its file index at read time.
    listing: dict | None = None
    # a view's defining SQL, for information_schema.views
    view_sql: str | None = None
    # column → named time zone declared via arrow_cast in the view body
    # (per-column Timestamp(_, Some("tz")) — §2.2 named-tz columns;
    # consumed by typed.tz_date_trunc)
    column_tz: dict[str, str] = field(default_factory=dict)
    # declared NOT NULL columns: Spark managed storage drops nullability,
    # but the reference REJECTS inserts that would null one
    not_null: frozenset = frozenset()
    # a CTAS SELECT's non-null columns (information_schema.slt: `i Int32
    # NO` after CREATE TABLE t AS SELECT 1::int), which Spark's managed
    # parquet reads back nullable. DISPLAY ONLY (DESCRIBE /
    # information_schema / SHOW COLUMNS); INSERT checks use not_null.
    ctas_non_null: frozenset = frozenset()
    # declared per-column DEFAULT expressions (statement.rs column
    # defaults), evaluated AT INSERT TIME for columns a column-list INSERT
    # omits
    defaults: dict[str, str] = field(default_factory=dict)


class SessionContext:
    """DataFusion-shaped session facade over a tuned SparkSession."""

    # TEMPORARY FUNCTIONs / Python data sources are SESSION-scoped (a
    # `spark.newSession()` gets a fresh function registry), so registration
    # is memoized per SparkSession object — weakly, so a stopped session
    # doesn't pin memory. Still shared across SessionContext instances on
    # the same session: code that builds a fresh context per query (the
    # source entries do) would otherwise replay every registration each
    # time (~0.2 s/query of pure overhead).
    _MACROS_DONE: "weakref.WeakSet[SparkSession]" = None  # initialized below

    def __init__(self, spark: SparkSession | None = None):
        self.spark = prepare(spark) if spark is not None else build_spark()
        # every per-table record, read and written through _key only
        self._records: dict[str, _Table] = {}
        self._prepared: dict[str, str] = {}
        # DataFusion-compatible config registry (settings.py): SET/SHOW
        # SQL, information_schema.df_settings, and live Spark conf mapping.
        # datafusion-cli enables information_schema at startup — this
        # facade plays the cli role, so it does too (the reference's
        # SessionContext default is false; SET ... = false restores it).
        from arrow_datafusion_spark.settings import Settings

        self.settings = Settings(self.spark)
        self.settings.set("datafusion.catalog.information_schema", "true")
        # DROP FUNCTION removes a name from this session's function
        # registry (sql/src/statement.rs DropFunction; create_function.slt:
        # dropping a built-in makes later calls error) — Spark can't drop
        # builtins, so dropped names are tracked and rejected at plan time.
        self._dropped_functions: set[str] = set()

    # -- registration (ListingTable role, datasource/listing/table.rs:617) ---

    def _ensure_macros(self) -> None:
        if self.spark not in SessionContext._MACROS_DONE:
            for ddl in _SQL_MACROS:
                self.spark.sql(ddl)
            # the Python kernels the rewrites call by their df_* names
            from arrow_datafusion_spark.functions.kernels import SESSION_UDFS

            for name, udf in SESSION_UDFS.items():
                self.spark.udf.register(name, udf)
            SessionContext._MACROS_DONE.add(self.spark)

    def register_table(self, name: str, df: DataFrame) -> None:
        """The frame replaces any table of that name, and its record."""
        self._bind(name, _Table(df))

    def _bind(self, name: str, rec: _Table) -> None:
        """Make ``rec`` (its frame set) the session table ``name``."""
        # names that aren't valid single-part view identifiers (e.g. a
        # Substrait LocalFiles basename like 'region.parquet' —
        # consumer.rs:692 keeps the extension) resolve through the record
        # only; SQL-side references need a valid name. Pre-validate
        # instead of swallowing createOrReplaceTempView errors wholesale:
        # a registration that fails for a DIFFERENT reason must propagate,
        # or a stale prior view under the same name would keep serving
        # old data to SQL while the record holds the new DataFrame.
        if re.fullmatch(_IDENT, name):
            rec.df.createOrReplaceTempView(name)
        self._records[_key(name)] = rec

    def _record(self, name: str) -> _Table:
        """The record of table ``name``, or an empty one."""
        return self._records.get(_key(name)) or _Table()

    def register_object_store(self, path: str, options: dict | None = None) -> str:
        """Object-store registration (datafusion-cli/src/object_storage.rs
        get_s3/oss/cos/gcs_object_store_builder): map DataFusion's URL
        schemes and credential OPTIONS onto Spark's Hadoop-filesystem
        equivalents, per bucket, and return the Spark-readable path.

        ``s3://bucket/…`` → ``s3a://bucket/…`` with ``aws.*`` options set as
        ``fs.s3a.bucket.<bucket>.*`` conf (credentials scoped to the bucket,
        not the session); ``oss://``/``cos://`` are S3-compatible stores
        (endpoint required, like the reference); ``gs://`` passes through to
        the GCS connector. Local/file paths return unchanged. No I/O happens
        here — registration only, exactly like the reference."""
        return _resolve_object_store_location(self.spark, path, options)

    def register_parquet(self, name: str, path: str) -> None:
        self._register_listing(name, "parquet", path)

    def register_csv(self, name: str, path: str, schema: str | None = None, **options) -> None:
        """CSV registration — explicit DDL ``schema`` wins; otherwise infer
        at registration time like the reference (file_format/csv.rs
        ``infer_schema``)."""
        self._register_listing(name, "csv", path, schema, options=options)

    def register_json(self, name: str, path: str, schema: str | None = None, **options) -> None:
        """Newline-delimited JSON (NdJsonExec, physical_plan/json.rs:53)."""
        self._register_listing(name, "json", path, schema, options=options)

    def register_avro(self, name: str, path: str) -> None:
        """Avro scan (AvroExec, physical_plan/avro.rs:38): the spark-avro
        connector, or the block-parallel Python reader (sources/avro.py)
        when the connector is absent."""
        self._register_listing(name, "avro", path)

    def register_arrow(self, name: str, path: str) -> None:
        """Arrow IPC file or directory of files (ArrowExec,
        physical_plan/arrow_file.rs:49) — served by the block-parallel
        Python data source in sources/arrow_ipc.py (one task per IPC record
        batch); rows never pass through the driver."""
        self._register_listing(name, "arrow", path)

    def _register_listing(
        self, name: str, fmt: str, path: str, schema=None, parts=(), options=None, **sink
    ) -> None:
        """Register a file-backed table: record its listing and read it
        (sources/listing.py). ``schema`` (a StructType or DDL string) is
        the declared one; without it the first read fixes the schema from
        the files. ``sink`` (single_file, unbounded) makes it an INSERT
        target."""
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        self._relist(name, _Table(listing={
            "fmt": FORMATS[fmt],
            "path": local_path(self.register_object_store(path)),
            "schema": None if schema is None else table_schema(schema, parts),
            "parts": list(parts),
            "options": dict(options or {}),
            **sink,
        }))

    def _relist(self, name: str, rec: _Table | None = None) -> None:
        """(Re-)register a file-backed table from the files now at its
        location, under its fixed schema; an INSERT sink whose location
        holds no files yet is a typed empty relation. A re-list swaps the
        frame and keeps the record's constraints."""
        rec = self._records[_key(name)] if rec is None else rec
        lst = rec.listing
        if "unbounded" in lst and not has_files(lst["path"]):
            rec.df = self._result([], lst["schema"])
        else:
            rec.df = read_listing(
                self.spark, lst["fmt"], lst["path"], schema=lst["schema"],
                partition_by=lst["parts"], options=lst["options"],
            )
            if lst["schema"] is None:  # a footer's keeps the nullability Spark's read drops
                lst["schema"] = file_schema(lst["fmt"], lst["path"], lst["options"]) or rec.df.schema
        self._bind(name, rec)

    def _refresh_path_tables(self, written_path: str) -> None:
        """Re-list every file-backed table whose location is, or contains,
        the just-written target, so it sees the new files."""
        target = os.path.abspath(local_path(written_path))
        for name, rec in list(self._records.items()):
            if rec.listing is None:
                continue
            base = os.path.abspath(_listing_base(rec.listing["path"]))
            if target == base or target.startswith(base + os.sep):
                self._relist(name)

    def register_view(self, name: str, sql: str) -> None:
        self._ensure_macros()
        self._register_view(name, lex(sql))

    def _register_view(self, name: str, lx: Lexed) -> None:
        rec = _Table(self._run(lx), view_sql=lx.written())
        # per-column NAMED TIME ZONES (timestamps.slt:1289-1435, issue
        # #8899): the reference's Timestamp(unit, Some("tz")) rides the
        # column type; Spark holds a single session zone, so record the
        # zone declared by a view-body `arrow_cast(col, '...Some("tz")')
        # AS alias` here and let zone-aware rewrites (date_trunc) consult
        # it. Values are stored as the same UTC instants either way.
        for m in re.finditer(
            rf"arrow_cast\s*\(\s*[^,()]+,\s*({LIT})\s*\)\s+AS\s+(\w+)",
            lx.text,
            re.IGNORECASE,
        ):
            mt = re.fullmatch(
                r"Timestamp\(\s*\w+\s*,\s*Some\(\s*\"([^\"]+)\"\s*\)\s*\)",
                lx.string(m.group(1)),
                re.IGNORECASE,
            )
            tz = mt.group(1).strip() if mt else "UTC"
            if tz.upper() not in ("UTC", "+00:00", "Z"):
                rec.column_tz[m.group(2).lower()] = tz
        self._bind(name, rec)

    def register_testdata(self, sf_dir: str = DEFAULT_SF_DIR) -> None:
        """Register the driver's fixture tables (TESTDATA.md) through
        session.load_tables, which resolves and registers the ones it has
        not memoized concurrently, then bind their records."""
        # the views may have been re-pointed since: register them afresh
        sid = session_key(self.spark)
        for t in ALL_TABLES:
            _VIEW_CACHE.pop((sid, t), None)
        for t, df in load_tables(self.spark, sf_dir).items():
            self._records[_key(t)] = _Table(df)

    def deregister_table(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)
        self._records.pop(_key(name), None)
        # keep session.load_tables' registered-view memo honest
        _VIEW_CACHE.pop((session_key(self.spark), _key(name)), None)

    # -- catalog ------------------------------------------------------------

    def table(self, name: str) -> DataFrame:
        df = self._record(name).df
        return self.spark.table(name) if df is None else df

    def tables(self) -> list[str]:
        """Spark's catalog names (lower-cased, like the record keys) and
        the registered frames whose names are no SQL identifier."""
        return sorted(
            {t.name for t in self._catalog_tables()}
            | {k for k, rec in self._records.items() if rec.df is not None}
        )

    def _table_type(self, name: str) -> str | None:
        """The tableType of the catalog object ``name`` resolves to (a temp
        view shadows a managed table), or None: one lookup by name."""
        try:
            return self.spark.catalog.getTable(_key(name)).tableType
        except AnalysisException:
            return None

    def table_exist(self, name: str) -> bool:
        """One of tables(), asked of Spark's catalog by name: a listing
        (listTables) costs ~0.15 s, a lookup ~2 ms."""
        return self._record(name).df is not None or bool(
            re.fullmatch(_IDENT, name) and self.spark.catalog.tableExists(name)
        )

    # -- readers (DataFrame API entry, SURVEY.md §3.2) ----------------------

    def read_parquet(self, path: str) -> DataFrame:
        return read_listing(self.spark, "parquet", path)

    def read_csv(self, path: str, **options) -> DataFrame:
        return read_listing(self.spark, "csv", path, options=options)

    def read_json(self, path: str, **options) -> DataFrame:
        return read_listing(self.spark, "json", path, options=options)

    # -- the entry point ----------------------------------------------------

    def sql(self, query: str, params=None) -> DataFrame:
        """Parse/plan/optimize via Catalyst (SURVEY.md §3.1 steps 1–7).

        Lex once: the statement is lexed (sql/lex.py) and every later step —
        default-schema strip, dispatch, plan-time checks, each rewrite
        pass — reads that one shielded text and literal table;
        ``_spark_sql`` rewrites it afresh on every call and restores the
        literals for ``spark.sql``.

        ``params`` binds ``$1`` (list) / ``$name`` (dict) placeholders (the
        ``Placeholder`` expression, datafusion/expr/src/expr.rs:925) as
        Spark ``spark.sql(..., args=...)`` markers — server-side literal
        binding, not string splicing, so values can't inject SQL.

        ``_STATEMENTS`` dispatches on the leading keywords, like the
        reference's ``statement_to_plan`` (sql/src/statement.rs:182):
        SET/SHOW (settings layer); EXPLAIN ANALYZE; COPY ... TO (CopyTo →
        df.write); PREPARE/EXECUTE/DEALLOCATE; CREATE EXTERNAL TABLE;
        CREATE VIEW; CREATE FUNCTION; DROP VIEW/TABLE/FUNCTION; then, after
        the plan-time checks (_check_query), WITH RECURSIVE (semi-naive
        fixpoint, plans/recursive.py), CREATE TABLE, SELECT ... INTO,
        DESCRIBE and INSERT INTO. Anything else — or a statement its
        handler declines — goes to ``_spark_sql``: a plain query costs one
        table lookup.
        """
        self._ensure_macros()
        lx, args = lex(query), None
        if params is not None:
            lx, args = lx.bind(params)
        return self._run(lx, args)

    # DDL/utility statements whose default catalog/schema qualifiers are
    # stripped (DML queries resolve through Spark's catalog, which has no
    # 'public' schema)
    _QUALIFIED = frozenset(("CREATE", "DROP", "DESCRIBE", "DESC", "INSERT", "SHOW"))
    _MODIFIERS = frozenset(("OR", "REPLACE", "TEMPORARY", "TEMP", "UNBOUNDED"))
    # leading keyword → (handler, runs after the plan-time checks), or a
    # dict keyed by the next keyword. A handler returns a DataFrame, or
    # None to fall through to the query path. The unchecked forms carry no
    # query text of their own, or re-enter _run with their body.
    _STATEMENTS: dict = {
        "SET": ("_sql_set_or_show", False),
        "SHOW": ("_sql_set_or_show", False),
        "EXPLAIN": {"ANALYZE": ("_sql_explain_analyze", False)},
        "COPY": ("_sql_copy_to", False),
        "PREPARE": ("_sql_prepare", False),
        "EXECUTE": ("_sql_execute", False),
        "DEALLOCATE": ("_sql_deallocate", False),
        "CREATE": {
            "EXTERNAL": ("_sql_create_external", False),
            "VIEW": ("_sql_create_view", False),
            "FUNCTION": ("_sql_create_function", False),
            "TABLE": ("_sql_create_table", True),
        },
        "DROP": {
            "VIEW": ("_sql_drop_view", False),
            "TABLE": ("_sql_drop_table", False),
            "FUNCTION": ("_sql_drop_function", False),
        },
        "WITH": {"RECURSIVE": ("_sql_recursive", True)},
        "SELECT": ("_sql_select_into", True),
        "DESCRIBE": ("_sql_describe_table", True),
        "INSERT": {"INTO": ("_sql_insert", True)},
    }

    def _run(self, lx: Lexed, args=None) -> DataFrame:
        """Dispatch one lexed (and bound) statement — see ``sql``."""
        head = lx.head(6)
        first = head[0] if head else ""
        if first in self._QUALIFIED:
            lx = self._strip_default_schema(lx)
        entry = self._STATEMENTS.get(first)
        if isinstance(entry, dict):
            nxt = next((w for w in head[1:] if w not in self._MODIFIERS), "")
            entry = entry.get(nxt)
        if entry is not None and not entry[1]:
            res = getattr(self, entry[0])(lx, args)
            if res is not None:
                return res
            entry = None
        lx = self._check_query(lx)
        if entry is not None:
            res = getattr(self, entry[0])(lx, args)
            if res is not None:
                return res
        return self._spark_sql(lx, args)

    def _strip_default_schema(self, lx: Lexed) -> Lexed:
        """DataFusion's default catalog tree: 'datafusion.public.t',
        'public.t' and 't' name the same session object. Strip the
        configured default catalog/schema qualifiers, case-insensitively
        (the reference resolves catalog/schema identifiers that way);
        literals are shielded, so a quoted 'public.' survives."""
        cat = self.settings.get("datafusion.catalog.default_catalog")
        sch = self.settings.get("datafusion.catalog.default_schema")
        return lx.derive(
            re.sub(
                rf"\b(?:{re.escape(cat)}\s*\.\s*)?{re.escape(sch)}\s*\.\s*"
                r"(?=[A-Za-z_`\"])",
                "",
                lx.text,
                flags=re.IGNORECASE,
            )
        )

    def _check_query(self, lx: Lexed) -> Lexed:
        """Plan-time rejections for text Spark would accept or misplan,
        then the information_schema binding; returns the statement to
        plan."""
        q = lx.text
        for fname in self._dropped_functions:
            if re.search(rf"\b{fname}\s*\(", q, re.IGNORECASE):
                raise ValueError(f"Invalid function '{fname}'")
        if re.search(
            r"\b(ROWS|RANGE|GROUPS)\s+BETWEEN\b[^()]*?"
            r"(\bNULL\s+(PRECEDING|FOLLOWING)|-\s*\d+\s+(PRECEDING|FOLLOWING))",
            q,
            re.IGNORECASE | re.DOTALL,
        ) or re.search(
            # non-BETWEEN shorthand ("ROWS -1 PRECEDING") — anchored to the
            # frame keyword so "SELECT a - 5 preceding" (alias) can't match
            r"\b(ROWS|RANGE|GROUPS)\s+-\s*\d+\s+(PRECEDING|FOLLOWING)",
            q,
            re.IGNORECASE,
        ):
            # window frame offsets must be non-negative integers (the
            # reference's WindowFrame validation) — Spark parses NULL /
            # negative bounds as expressions and misplans them
            raise ValueError(
                "Invalid window frame: frame offsets must be non negative integers"
            )
        if re.search(r"\bNTILE\s*\(\s*\)", q, re.IGNORECASE):
            # ntile.rs: NTILE requires an argument
            raise ValueError("NTILE requires a positive integer")
        if re.search(
            r"\binformation_schema\s*\.\s*(tables|columns|views|schemata|df_settings)\b",
            q,
            re.IGNORECASE,
        ):
            lx = self._bind_information_schema(lx)
        return lx

    def _result(self, rows, schema: str | StructType) -> DataFrame:
        """Rows a statement builds in Python (a COPY or INSERT count, the
        EXPLAIN, SHOW, DESCRIBE and information_schema rows, an empty
        table), as a local Arrow relation: collecting it runs no Spark job.
        A frame built from a Python list runs a job of Python-worker tasks
        when collected: 0.35-0.77 s for these statements' results on a
        4-core box, against 8-37 ms here. PySpark's Arrow conversion
        carries neither ``INTERVAL YEAR TO MONTH`` nor calendar intervals."""
        struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
        arrow = to_arrow_schema(struct)
        cols = list(zip(*rows)) if rows else [()] * len(arrow)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
        return self.spark.createDataFrame(table, struct)

    def _empty_result(self) -> DataFrame:
        return self._result([], "result string")

    def _sql_explain_analyze(self, lx: Lexed, args) -> DataFrame | None:
        """DataFusion's EXPLAIN ANALYZE returns a (plan_type, plan) table of
        the executed plan with metrics — mirror that shape. The inner
        statement re-enters _run, so the WITH RECURSIVE / COPY /
        information_schema handling applies to it too."""
        m = re.match(r"\s*EXPLAIN\s+ANALYZE\s+(.*)$", lx.text, re.IGNORECASE | re.DOTALL)
        if m is None:
            return None
        text = self._analyze_df(self._run(lx.derive(m.group(1)), args))
        return self._result(
            [("Plan with Metrics", text)], "plan_type string, plan string"
        )

    def _sql_prepare(self, lx: Lexed, args) -> DataFrame | None:
        """PREPARE name [(types)] AS query (sql/src/statement.rs Prepare):
        store the lexed body; EXECUTE binds $n placeholders positionally.
        Plan-time rejections mirror the reference's planner."""
        m = re.match(
            # the optional type list may nest parens (DECIMAL(10,2))
            r"\s*PREPARE\s+([A-Za-z_][A-Za-z0-9_]*)\s*"
            r"(\((?:[^()]|\([^()]*\))*\))?\s+AS\s+(.*)$",
            lx.text,
            re.IGNORECASE | re.DOTALL,
        )
        if m is None:
            return None
        name, typelist, body = m.group(1).lower(), m.group(2), m.group(3).strip()
        if name in self._prepared:
            # duplicate PREPARE without DEALLOCATE
            raise ValueError(f"prepared statement {name!r} already exists")
        if re.search(r"\$[A-Za-z_]", body):
            # only positional $n placeholders are supported
            raise ValueError("named placeholders ($foo) are not supported")
        if re.search(r"\bIS\s+(NOT\s+)?\$\d", body, re.IGNORECASE):
            raise ValueError("IS $n is not a valid placeholder position")
        used = [int(n) for n in re.findall(r"\$(\d+)", body)]
        if typelist is not None:
            ntypes = len(split(typelist[1:-1]))
            if used and max(used) > ntypes:
                raise ValueError(
                    f"prepared statement uses ${max(used)} but only "
                    f"{ntypes} parameter types were declared"
                )
        if re.match(r"\s*(SELECT|VALUES|WITH)\b", body, re.IGNORECASE):
            # validate the body plans (placeholders bound to NULL) so a
            # body the reference rejects at PREPARE time (e.g. columns
            # with no table) fails here, not at first EXECUTE
            self._run(lx.derive(re.sub(r"\$\d+", "NULL", body)))
        self._prepared[name] = lx.derive(body)
        return self._empty_result()

    def _sql_execute(self, lx: Lexed, args) -> DataFrame | None:
        m = re.match(
            r"\s*EXECUTE\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?:\((.*)\))?\s*;?\s*$",
            lx.text,
            re.IGNORECASE | re.DOTALL,
        )
        if m is None:
            return None
        stored = self._prepared.get(m.group(1).lower())
        if stored is None:
            raise ValueError(f"no prepared statement named {m.group(1)!r}")
        return self._run(*stored.bind(lx.values(m.group(2) or "")))

    def _sql_deallocate(self, lx: Lexed, args) -> DataFrame | None:
        m = re.match(
            r"\s*DEALLOCATE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$", lx.text, re.IGNORECASE
        )
        if m is None:
            return None
        if self._prepared.pop(m.group(1).lower(), None) is None:
            # reference errors on deallocating an unknown statement
            raise ValueError(f"no prepared statement named {m.group(1)!r}")
        return self._empty_result()

    def _sql_create_view(self, lx: Lexed, args) -> DataFrame | None:
        """DataFusion's CREATE VIEW (sql/src/statement.rs CreateView) is a
        SESSION-catalog object; Spark's native CREATE VIEW tries to persist
        and rejects references to temp views, so route through
        register_view (temp view + recorded definition for
        information_schema.views). The body re-enters _run, so rewrites
        (:: casts, macros, recursion) apply inside views."""
        m = re.match(
            r"\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMPORARY\s+|TEMP\s+)?VIEW\s+"
            r"(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.*)$",
            lx.text,
            re.IGNORECASE | re.DOTALL,
        )
        if m is None:
            return None
        or_replace, if_not_exists, name = m.group(1), m.group(2), m.group(3)
        if self.table_exist(name) and not or_replace:
            if if_not_exists:
                return self._empty_result()
            raise ValueError(f"view {name!r} already exists (use OR REPLACE)")
        self._register_view(name, lx.derive(m.group(4).strip().rstrip(";")))
        return self._empty_result()

    def _sql_create_function(self, lx: Lexed, args) -> None:
        """Re-registering a dropped name resurrects it (the registry is
        live, not append-only) — before the plan-time checks scan for
        dropped names. Spark then runs the statement."""
        m = re.match(
            r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?FUNCTION\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?`?([A-Za-z_]\w*)`?",
            lx.text,
            re.IGNORECASE,
        )
        if m:
            self._dropped_functions.discard(m.group(1).lower())
        return None

    def _sql_drop_view(self, lx: Lexed, args) -> DataFrame | None:
        m = re.match(
            r"\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
            lx.text,
            re.IGNORECASE,
        )
        if m is None:
            return None
        if_exists, name = m.group(1), m.group(2)
        if not self.table_exist(name):
            if if_exists:
                return self._empty_result()
            raise ValueError(f"no view named {name!r}")
        if self._record(name).view_sql is None and self._table_type(name) != "VIEW":
            # drop_view_cant_drop_table (ddl.slt): the name resolves to
            # a TABLE — DROP VIEW must not remove it
            raise ValueError(f"View {name!r} doesn't exist.")
        self.deregister_table(name)
        return self._empty_result()

    def _sql_drop_table(self, lx: Lexed, args) -> DataFrame | None:
        m = re.match(
            r"\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
            lx.text,
            re.IGNORECASE,
        )
        if m is None:
            return None
        name = m.group(1)
        if self._record(name).view_sql is not None:
            # drop_table_cant_drop_view (ddl.slt): the name is a session
            # VIEW — DROP TABLE must not remove it
            raise ValueError(f"Table {name!r} doesn't exist.")
        # managed-table DROP falls through to Spark; either way the
        # table's record must not survive
        self._records.pop(_key(name), None)
        if self._table_type(name) == "TEMPORARY":
            # DataFusion's DROP TABLE drops session-registered tables too;
            # ours are temp views, which Spark's DROP TABLE won't touch.
            # Real managed tables (CTAS) fall through to Spark.
            self.deregister_table(name)
            return self._empty_result()
        return None

    def _sql_drop_function(self, lx: Lexed, args) -> DataFrame | None:
        """DROP FUNCTION (statement.rs DropFunction): removes the name from
        the session registry; later references fail to plan."""
        m = re.match(
            r"\s*DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)"
            r"\s*;?\s*$",
            lx.text,
            re.IGNORECASE,
        )
        if m is None:
            return None
        if_exists, fname = bool(m.group(1)), m.group(2).lower()
        from arrow_datafusion_spark.functions.scalar import SCALAR as _scalar_reg

        exists = fname not in self._dropped_functions and (
            fname in _scalar_reg or self.spark.catalog.functionExists(fname)
        )
        if not exists and not if_exists:
            raise ValueError("Execution error: Function does not exist")
        self._dropped_functions.add(fname)
        return self._empty_result()

    def _sql_create_table(self, lx: Lexed, args) -> DataFrame:
        """CREATE [OR REPLACE] TABLE: column-list forms (with or without a
        source query), CTAS AS VALUES, and CTAS; other shapes run
        natively."""
        mor = re.match(
            r"(\s*CREATE\s+)OR\s+REPLACE\s+(TABLE\s+)(?:(IF\s+NOT\s+EXISTS)\s+)?"
            r"([A-Za-z_][A-Za-z0-9_]*)",
            lx.text,
            re.IGNORECASE,
        )
        if mor and mor.group(3):
            # statement.rs: or_replace and if_not_exists are incompatible
            raise ValueError("'IF NOT EXISTS' cannot coexist with 'REPLACE'")
        if mor:
            # CREATE OR REPLACE TABLE (DataFusion's or_replace flag; Spark
            # v1 catalogs lack native support). The reference only swaps
            # AFTER the new definition succeeds — so when the target exists,
            # build the replacement under a temp name first, then atomically
            # drop-and-rename; a malformed new definition leaves the old
            # table intact.
            q = lx.text
            name = mor.group(4)
            stripped = q[: mor.end(1)] + q[mor.start(2) :]
            if self.table_exist(name):
                tmp = f"{name}__cor_new"
                pos = mor.end(1) + (mor.start(4) - mor.start(2))
                assert stripped[pos : pos + len(name)] == name
                tmp_query = stripped[:pos] + tmp + stripped[pos + len(name) :]
                self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
                self.deregister_table(tmp)
                res = self._run(lx.derive(tmp_query), args)  # raises → old table intact
                self.spark.sql(f"DROP TABLE IF EXISTS {name}")
                self.deregister_table(name)
                # the replacement's record was made under the temp name —
                # it follows the rename, then the temp name is forgotten
                rec = self._records.pop(_key(tmp), None) or _Table()
                if self._table_type(tmp) not in (None, "TEMPORARY"):
                    self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
                    self._records[_key(name)] = rec
                else:
                    # replacement landed as a session registration (temp
                    # view) — re-register under the target name
                    if rec.df is None:
                        rec.df = self.spark.table(tmp)
                    self._bind(name, rec)
                self.deregister_table(tmp)
                return res
            lx = lx.derive(stripped)
        m = re.match(
            # CREATE TABLE name (coldefs) [AS query] — Spark rejects a
            # schema in CTAS; DataFusion casts the query output positionally
            r"\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"([A-Za-z_][A-Za-z0-9_]*)\s*\(((?:[^()]|\([^()]*\))*)\)\s*"
            r"(?:AS\s+(.*?))?\s*;?\s*$",
            lx.text,
            re.IGNORECASE | re.DOTALL,
        )
        if m and m.group(4):
            return self._sql_create_table_cols(
                m.group(2),
                lx.written(m.group(3)),
                lx.derive(m.group(4)),
                bool(m.group(1)),
                args,
            )
        if m:
            # CREATE TABLE name (cols) without a source: empty table with
            # the schema run through the DataFusion→Spark type map (TEXT,
            # TIMESTAMP WITH TIME ZONE, unsigned widening — Spark's native
            # DDL parser rejects those spellings)
            name, coldefs = m.group(2), lx.written(m.group(3))
            if self._name_taken(name, m.group(1)):
                return self._empty_result()
            declared = self._constraints(coldefs)
            self._result(
                [],
                _column_defs_to_ddl(
                    coldefs,
                    self.settings.get_bool("datafusion.sql_parser.enable_ident_normalization"),
                ),
            ).write.saveAsTable(name)
            self._declare(name, *declared)
            return self._empty_result()
        m = re.match(
            r"\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.*)$",
            lx.text,
            re.IGNORECASE | re.DOTALL,
        )
        if m and re.match(r"\s*\(?\s*VALUES\b", m.group(3), re.IGNORECASE):
            # CREATE TABLE AS VALUES: the reference materializes a MemTable
            # that preserves insertion order; Spark's native CTAS fans the
            # literal rows across defaultParallelism files whose read-back
            # listing order scrambles them. One literal list → one file.
            name, body = m.group(2), m.group(3)
            if self._name_taken(name, m.group(1)):
                return self._empty_result()
            self._spark_sql(lx.derive(body.strip().rstrip(";")), args).coalesce(
                1
            ).write.saveAsTable(name)
            # VALUES rows stay NULLABLE in the reference (Values relation
            # typing — information_schema.slt DESCRIBE some_table: Int64
            # YES), unlike SELECT-CTAS; no nullability capture here
            self._declare(name)
            return self._empty_result()
        if m:
            # CTAS without a column list: run natively, then record the
            # SELECT's non-null columns (a failed CTAS records nothing)
            if self._name_taken(m.group(2), m.group(1)):
                return self._empty_result()
            res = self._spark_sql(lx, args)
            self._declare(
                m.group(2), ctas_non_null=self._non_null_output(lx.derive(m.group(3)), args)
            )
            return res
        return self._spark_sql(lx, args)

    def _sql_select_into(self, lx: Lexed, args) -> DataFrame | None:
        """Postgres SELECT ... INTO tbl FROM ... (the reference plans it as
        CTAS — sql/src/statement.rs SELECT INTO handling)."""
        m = re.match(
            r"\s*SELECT\s+(.*?)\s+INTO\s+([A-Za-z_][A-Za-z0-9_]*)\s+(FROM\s+.*)$",
            lx.text,
            re.IGNORECASE | re.DOTALL,
        )
        if m is None:
            return None
        return self._run(
            lx.derive(f"CREATE TABLE {m.group(2)} AS SELECT {m.group(1)} {m.group(3)}"),
            args,
        )

    def _sql_describe_table(self, lx: Lexed, args) -> DataFrame | None:
        m = re.match(
            r"\s*DESCRIBE\s+(?:TABLE\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
            lx.text,
            re.IGNORECASE,
        )
        if m and self.table_exist(m.group(1)):
            return self._sql_describe(m.group(1))
        return None

    def _sql_insert(self, lx: Lexed, args) -> DataFrame | None:
        """DataFusion's INSERT reports the inserted row count as a one-row
        `count` result (DataSinkExec); Spark's INSERT returns nothing, so
        the count comes from the write: the command's own output-row
        metric, or an Observation on the coerced write."""
        m = re.match(r"\s*INSERT\s+INTO\s+([A-Za-z_][A-Za-z0-9_]*)\b", lx.text, re.IGNORECASE)
        if m is None:
            return None
        target = m.group(1)
        rec = self._record(target)
        if rec.listing and "unbounded" in rec.listing:
            return self._insert_external(target, lx, args)
        src, body, cols = self._insert_columns(target, lx, args)
        checks = self._insert_checks(target, src, cols)
        if checks:
            self._raise_insert_checks(src.agg(*checks).first().asDict())
        has_collist = re.match(_INSERT_HEAD, lx.text, re.IGNORECASE).group(1) is not None
        if re.match(r"\s*\(?\s*VALUES\b", body.text, re.IGNORECASE) or (
            has_collist and rec.defaults
        ):
            # coerced path: evaluates recorded column DEFAULTs Spark's
            # native path would NULL-fill, and writes literal VALUES as
            # ONE coalesced file so MemTable insertion order stays
            # observable downstream (string_agg / last_value without
            # ORDER BY follow scan order in the reference; Spark's
            # native INSERT scatters literal rows across
            # defaultParallelism files, scrambling scan order).
            # Literal rows are bounded by the statement text —
            # coalesce(1) cannot become a scale problem.
            n = self._insert_coerced(target, src, cols)
            return self._result([(n,)], "count bigint")
        try:
            done = self._spark_sql(lx, args)
        except Exception:
            # DataFusion COERCES literals to the target column types
            # (string → date/timestamp/decimal); Spark's ANSI store-
            # assignment rejects the implicit cast. Re-run with the
            # source positionally cast to the table schema. A column
            # list fills unnamed columns with NULL (the reference's
            # Insert planning); coalesce(1) keeps literal-row order
            # (MemTable insertion order is observable downstream).
            n = self._insert_coerced(target, src, cols)
        else:
            n = _written_rows(done)
        return self._result([(n,)], "count bigint")

    def _insert_external(self, target: str, lx: Lexed, args) -> DataFrame:
        """INSERT INTO an external table → append files at its location
        (the reference's FileSinkExec), then re-list. Returns the count."""
        sink = self._record(target).listing
        src, body, cols = self._insert_columns(target, lx, args)
        checks = self._insert_checks(target, src, cols, lossy_casts=True)
        # an UNBOUNDED single file is rewritten as old ∪ new rows, so the
        # write's own count would include the old ones: count the new rows
        # in the checks' aggregate instead
        n = None
        if checks or sink["single_file"]:
            counts = src.agg(F.count(F.lit(1)).alias("n"), *checks).first().asDict()
            n = counts.pop("n")
            self._raise_insert_checks(counts)
        out = self._insert_select(target, src, cols)
        if re.match(r"\s*\(?\s*VALUES\b", body.text, re.IGNORECASE):
            out = out.coalesce(1)  # keep literal-row order in the file
        fmt, path = sink["fmt"], sink["path"]
        # avro parts are written with the DECLARED table schema, not this
        # batch's inferred nullability — all part files of one table share
        # one Avro schema
        options = (
            {"schema": avro_schema_of(StructType([f for f, _ in cols]))}
            if fmt == "avro"
            else sink["options"]
        )
        if sink["single_file"]:
            if not sink["unbounded"]:
                # ListingTable rejects single-file inserts; only the
                # StreamTable (UNBOUNDED) path appends to one file
                raise ValueError(
                    "Inserting into a ListingTable backed by a single file "
                    "is not supported, URL is possibly missing a trailing "
                    "`/`. To append to an existing file use StreamTable, "
                    "e.g. by using CREATE UNBOUNDED EXTERNAL TABLE"
                )
            if os.path.isfile(path):
                out = self.table(target).unionAll(out)
            write_sink(out, fmt, path, layout="single_file", options=options)
        else:
            n = write_sink(
                out, fmt, path, partition_by=sink["parts"], options=options
            )
        self._relist(target)
        return self._result([(n,)], "count bigint")

    def _sql_describe(self, name: str) -> DataFrame:
        """DataFusion's DESCRIBE: (column_name, data_type, is_nullable), as
        information_schema.columns lists them."""
        return self._result(
            [(r[3], r[7], r[6]) for r in self._ansi_columns_rows([name])],
            "column_name string, data_type string, is_nullable string",
        )

    def _non_null_output(self, body: Lexed, args=None) -> frozenset:
        """A CTAS SELECT's non-nullable output columns (the record's
        display-only ctas_non_null). Lazy schema analysis only — the body
        is planned, never executed here."""
        try:
            schema = self._spark_sql(
                body.derive(body.text.strip().rstrip(";")), args
            ).schema
        except Exception:
            return frozenset()
        return frozenset(f.name.lower() for f in schema.fields if not f.nullable)

    def _is_nullable(self, tname: str, field) -> bool:
        """Spark's managed parquet reads back all-nullable — overlay the
        table's record: its CTAS non-null and declared NOT NULL columns
        (both lost by the storage round-trip)."""
        rec = self._record(tname)
        return field.nullable and field.name.lower() not in rec.not_null | rec.ctas_non_null

    def _name_taken(self, name: str, if_not_exists) -> bool:
        """Whether a CREATE of ``name`` is a no-op: a name any table or
        view holds is one with IF NOT EXISTS and the reference's error
        without (SessionContext create_memory_table /
        create_external_table)."""
        if not self.table_exist(name):
            return False
        if if_not_exists:
            return True
        raise ValueError(f"Execution error: Table '{name}' already exists")

    def _declare(
        self, name: str, not_null=frozenset(), defaults=None, ctas_non_null=frozenset()
    ) -> None:
        """Set a just-created table's constraints on its record; a prior
        same-named table's constraints must not reach it."""
        rec = self._records.setdefault(_key(name), _Table())
        rec.not_null, rec.defaults, rec.ctas_non_null = not_null, defaults or {}, ctas_non_null

    def _constraints(self, coldefs: str) -> tuple[frozenset, dict[str, str]]:
        """A CREATE TABLE column list's NOT NULL columns and per-column
        DEFAULT expressions (statement.rs column defaults). The reference
        evaluates a DEFAULT at INSERT time for columns a column-list INSERT
        omits, and REJECTS one that references columns at plan time — so
        call this before the table is created."""
        nn, out = set(), {}
        for d in split(coldefs):
            toks = d.strip().split()
            if toks and re.search(r"\bNOT\s+NULL\b", d, re.IGNORECASE):
                nn.add(toks[0].strip('"`').lower())
            md = re.search(r"\bDEFAULT\s+(.+)$", d, re.IGNORECASE | re.DOTALL)
            if not toks or not md:
                continue
            expr = md.group(1).strip()
            # constraints may FOLLOW the default expression
            expr = re.sub(
                r"\s+(NOT\s+NULL|PRIMARY\s+KEY|UNIQUE)\s*$", "", expr,
                flags=re.IGNORECASE,
            )
            # rewritten once, here: the record holds Spark's text
            expr = self._spark_text(lex(expr))
            try:  # plan the expression standalone — column refs must fail
                self.spark.sql(f"SELECT {expr}")
            except Exception as exc:
                raise ValueError(
                    "Column reference is not allowed in the DEFAULT "
                    f"expression: {exc}"
                ) from None
            out[toks[0].strip('"`').lower()] = expr
        return frozenset(nn), out

    def _insert_columns(self, target: str, lx: Lexed, args):
        """The reference's INSERT column mapping (insert.slt), shared by
        catalog and external targets: (source frame, its columns named by
        position; source query; and per target column in schema order
        ``(field, source column index or None)``, None where a column list
        omits the column). Rejects duplicate names in the column list and a
        source/target column-count mismatch, which Spark's native INSERT
        lets through. Plans the source only — no job."""
        m = re.match(_INSERT_HEAD + r"\s*(.*)$", lx.text, re.IGNORECASE | re.DOTALL)
        collist, body = m.group(1), lx.derive(m.group(2).strip().rstrip(";"))
        schema = self.spark.table(target).schema
        names = (
            [c.strip().strip('"`').lower() for c in collist.split(",")]
            if collist
            else [f.name.lower() for f in schema]
        )
        if len(names) != len(set(names)):
            dup = next(c for c in names if names.count(c) > 1)
            raise ValueError(
                f"Schema contains duplicate unqualified field name {dup}"
            )
        src = _by_position(self._spark_sql(body, args))
        if len(src.columns) != len(names):
            raise ValueError("Column count doesn't match insert query!")
        cols = [
            (f, names.index(f.name.lower()) if f.name.lower() in names else None)
            for f in schema
        ]
        return src, body, cols

    def _insert_checks(
        self, target: str, src: DataFrame, cols, lossy_casts: bool = False
    ) -> list:
        """The pre-write checks of an INSERT, as aggregate columns over the
        source (empty when none can fail). NULLs must not reach a declared
        NOT NULL column: an omitted one without a non-NULL DEFAULT is
        rejected here, a present one is counted. With ``lossy_casts``
        (file sinks) a cast that turns a value NULL is counted too: the
        reference REJECTS lossy casts (Arrow cast error) where Spark's
        non-ANSI cast nulls them."""
        rec = self._record(target)
        dflts, not_null = rec.defaults, rec.not_null
        checks = []
        for f, i in cols:
            key = f.name.lower()
            if i is None:
                d = dflts.get(key)
                if key in not_null and (d is None or d.strip().lower() == "null"):
                    raise ValueError(
                        f"Invalid batch column at '{f.name}' has null but "
                        "schema specifies non-nullable"
                    )
                continue
            src_c = src[src.columns[i]]
            if lossy_casts and not _cast_keeps_values(
                src.schema[i].dataType, f.dataType
            ):
                cast_c = src_c.cast(f.dataType)
                checks.append(
                    F.sum(
                        F.when(src_c.isNotNull() & cast_c.isNull(), 1).otherwise(0)
                    ).alias(f"cast__{f.name}")
                )
            if key in not_null:
                checks.append(
                    F.sum(F.when(src_c.isNull(), 1).otherwise(0)).alias(
                        f"null__{f.name}"
                    )
                )
        return checks

    @staticmethod
    def _raise_insert_checks(counts: dict) -> None:
        for k, v in counts.items():
            if v:
                kind, col = k.split("__", 1)
                if kind == "cast":
                    raise ValueError(
                        f"Cast error: cannot cast value to {col}'s type"
                    )
                raise ValueError(
                    f"Invalid batch column at '{col}' has null but "
                    "schema specifies non-nullable"
                )

    def _insert_select(self, target: str, src: DataFrame, cols) -> DataFrame:
        """The source cast positionally to the target schema; a column the
        column list omits takes its recorded DEFAULT, else NULL."""
        dflts = self._record(target).defaults
        sel = []
        for f, i in cols:
            if i is not None:
                c = src[src.columns[i]]
            else:
                d = dflts.get(f.name.lower())
                c = F.expr(d) if d is not None else F.lit(None)
            sel.append(c.cast(f.dataType).alias(f.name))
        return src.select(*sel)

    def _insert_coerced(self, target: str, src: DataFrame, cols) -> int:
        """INSERT with the source cast to the target schema (see caller);
        returns the rows written, observed on the write."""
        written = Observation()
        self._insert_select(target, src, cols).coalesce(1).observe(
            written, F.count(F.lit(1)).alias("n")
        ).write.insertInto(target)
        return written.get["n"]

    def _sql_create_table_cols(
        self, name: str, coldefs: str, body: Lexed, if_not_exists: bool, args
    ) -> DataFrame:
        """``CREATE TABLE name (a type, ...) AS query`` — positional cast +
        rename of the query output (sql/src/statement.rs CreateTable with
        both a schema and a source query)."""
        if self._name_taken(name, if_not_exists):
            return self._empty_result()
        declared = self._constraints(coldefs)
        ddl = _column_defs_to_ddl(
            coldefs,
            self.settings.get_bool("datafusion.sql_parser.enable_ident_normalization"),
        )
        defs = split(ddl)
        # placeholders were already bound by sql(); go straight to Spark
        src = _by_position(self._spark_sql(body.derive(body.text.strip().rstrip(";")), args))
        if re.match(r"\s*\(?\s*VALUES\b", body.text, re.IGNORECASE):
            src = src.coalesce(1)  # preserve literal-row order (see CTAS)
        cols = []
        int_types = ("tinyint", "smallint", "int", "bigint")
        for i, d in enumerate(defs):
            cname, _, ctype = d.strip().partition(" ")
            col = src[src.columns[i]]
            src_type = src.schema[i].dataType.simpleString()
            if ctype.strip().lower() == "date" and src_type in int_types:
                # arrow's int→Date32 cast reinterprets days since epoch
                col = F.date_add(F.lit("1970-01-01").cast("date"), col.cast("int"))
            else:
                col = col.cast(ctype.strip())
            cols.append(col.alias(cname))
        src.select(*cols).write.saveAsTable(name)
        self._declare(name, *declared)
        return self._empty_result()

    # -- SET / SHOW statement layer (config.rs ConfigOptions; SET/SHOW
    # planning in sql/src/planner.rs; set_variable.slt, options.slt,
    # information_schema.slt SHOW sections) ------------------------------

    def _require_info_schema(self, what: str) -> None:
        if not self.settings.get_bool("datafusion.catalog.information_schema"):
            raise ValueError(
                f"Error during planning: {what} is not supported unless "
                "information_schema is enabled"
            )

    def _show_df(self, rows, verbose: bool) -> DataFrame:
        schema = (
            "name string, value string, description string"
            if verbose
            else "name string, value string"
        )
        return self._result(rows, schema)

    def _sql_set_or_show(self, lx: Lexed, args) -> DataFrame | None:
        """Handle SET / SHOW statements; returns a DataFrame when handled,
        None to fall through to the rest of the dispatch.

        Forms (each as in the reference): ``SET key TO|= value`` with the
        typed validation in settings.py; ``SET TIME ZONE`` /
        ``SET TIMEZONE`` as aliases for datafusion.execution.time_zone;
        ``SHOW ALL [VERBOSE]``, ``SHOW <key> [VERBOSE]``, ``SHOW TIME
        ZONE``, ``SHOW TABLES``, ``SHOW [FULL] COLUMNS FROM t`` — the SHOW
        family requires datafusion.catalog.information_schema=true.
        ``spark.*`` keys and Spark-native forms (bare ``SET``, ``SHOW
        FUNCTIONS/DATABASES``) pass through to Spark untouched."""
        q = lx.text.strip().rstrip(";").strip()
        m = re.match(
            r"SET\s+TIME\s*ZONE\s*(?:TO\s+|=\s*)?(.+)$", q, re.IGNORECASE
        )
        if m:
            self.settings.set("datafusion.execution.time_zone", lx.written(m.group(1)))
            return self._empty_result()
        m = re.match(
            r"SET\s+([A-Za-z_][\w.]*)\s*(?:TO\s+|=\s*)(.+)$",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            key, value = m.group(1), lx.written(m.group(2).strip())
            if key.lower().startswith("spark."):
                return self.spark.sql(lx.written(q))  # native Spark conf
            self.settings.set(key, value)  # raises on unknown namespace
            return self._empty_result()
        m = re.match(r"SHOW\s+(ALL|TIME\s*ZONE)\s*(VERBOSE)?$", q, re.IGNORECASE)
        if m:
            self._require_info_schema("SHOW [VARIABLE]")
            verbose = bool(m.group(2))
            if m.group(1).upper() == "ALL":
                rows = (
                    self.settings.verbose_rows() if verbose else self.settings.rows()
                )
            else:
                tz = self.settings.get("datafusion.execution.time_zone")
                name = "datafusion.execution.time_zone"
                rows = [
                    (name, tz, self.settings.describe("execution.time_zone"))
                    if verbose
                    else (name, tz)
                ]
            return self._show_df(rows, verbose)
        m = re.match(r"SHOW\s+([A-Za-z_][\w]*(?:\.[\w]+)+)\s*(VERBOSE)?$", q, re.IGNORECASE)
        if m:
            key, verbose = m.group(1), bool(m.group(2))
            if key.lower().startswith("spark."):
                return self.spark.sql(lx.written(q))
            self._require_info_schema("SHOW [VARIABLE]")
            name = "datafusion." + self.settings._suffix(key)
            v = self.settings.get(key)
            v = "NULL" if v is None else v
            rows = [
                (name, v, self.settings.describe(name.removeprefix("datafusion.")))
                if verbose
                else (name, v)
            ]
            return self._show_df(rows, verbose)
        if re.match(r"SHOW\s+TABLES$", q, re.IGNORECASE):
            self._require_info_schema("SHOW TABLES")
            return self.information_schema_tables()
        m = re.match(
            r"SHOW\s+(FULL\s+)?COLUMNS\s+(?:FROM|IN)\s+(.+)$", q, re.IGNORECASE
        )
        if m:
            self._require_info_schema("SHOW COLUMNS")
            full, rest = bool(m.group(1)), m.group(2).strip()
            if re.search(r"\b(LIKE|WHERE)\b", rest, re.IGNORECASE):
                raise ValueError(
                    "Error during planning: SHOW COLUMNS with WHERE or LIKE "
                    "is not supported"
                )
            return self._show_columns(lx.written(rest), full)
        return None

    def _resolve_user_table(self, ident: str) -> str:
        """Resolve a possibly catalog/schema-qualified, possibly quoted
        table identifier to the session table name. Unquoted identifiers
        normalize to lowercase (sql_parser.enable_ident_normalization);
        quoted ones are exact-case. Unknown → the reference's planning
        error with the fully-qualified name."""
        cat = self.settings.get("datafusion.catalog.default_catalog")
        sch = self.settings.get("datafusion.catalog.default_schema")
        parts = [
            p[1:-1] if p[:1] in "\"`" else p.lower()
            for p in re.findall(r'"[^"]*"|`[^`]*`|[^.]+', ident.strip())
        ]
        name = parts[-1]
        known = {t.name for t in self._catalog_tables()}
        if name not in known:
            raise ValueError(
                f"Error during planning: table '{cat}.{sch}.{name}' not found"
            )
        return name

    def _ansi_columns_rows(self, names: list[str]) -> list[tuple]:
        """information_schema.columns rows in the reference's 15-column
        ANSI layout (information_schema.rs InformationSchemaColumns —
        precision/radix per Arrow type: ints → bit width radix 2, Float32
        24 / Float64 53 radix 2, Decimal(p,s) → p radix 10 scale s; Utf8 /
        Binary character_octet_length i32::MAX)."""
        cat = self.settings.get("datafusion.catalog.default_catalog")
        sch = self.settings.get("datafusion.catalog.default_schema")
        rows = []
        for tname in names:
            # a file-backed table's fixed schema; a parquet footer's keeps the
            # file's nullability (map.slt:24 — `value Int64 nullable: false`)
            lst = self._record(tname).listing
            schema = lst["schema"] if lst and lst["schema"] else self.spark.table(tname).schema
            for i, f in enumerate(schema):
                arrow = typenames.arrow_name(f.dataType)
                char_octet = prec = radix = scale = None
                if arrow in ("Utf8", "Binary"):
                    char_octet = 2147483647
                m_int = re.fullmatch(r"U?Int(8|16|32|64)", arrow)
                if m_int:
                    prec, radix = int(m_int.group(1)), 2
                elif arrow == "Float32":
                    prec, radix = 24, 2
                elif arrow == "Float64":
                    prec, radix = 53, 2
                else:
                    m_dec = re.fullmatch(r"Decimal\d*\((\d+),\s*(-?\d+)\)", arrow)
                    if m_dec:
                        prec, radix = int(m_dec.group(1)), 10
                        scale = int(m_dec.group(2))
                rows.append(
                    (cat, sch, tname, f.name, i, None,
                     "YES" if self._is_nullable(tname, f) else "NO", arrow,
                     None, char_octet, prec, radix, scale, None, None)
                )
        return rows

    _ANSI_COLUMNS_SCHEMA = (
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, ordinal_position int, column_default string, "
        "is_nullable string, data_type string, "
        "character_maximum_length bigint, character_octet_length bigint, "
        "numeric_precision bigint, numeric_precision_radix bigint, "
        "numeric_scale bigint, datetime_precision bigint, interval_type string"
    )

    def _show_columns(self, ident: str, full: bool) -> DataFrame:
        name = self._resolve_user_table(ident)
        rows = self._ansi_columns_rows([name])
        if full:
            return self._result(rows, self._ANSI_COLUMNS_SCHEMA)
        return self._result(
            [(r[0], r[1], r[2], r[3], r[7], r[6]) for r in rows],
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, data_type string, is_nullable string",
        )

    def _bind_information_schema(self, lx: Lexed) -> Lexed:
        """SQL-queryable information_schema (information_schema.rs:45-54
        exposes tables / views / columns / df_settings / schemata):
        references are rebound to freshly-materialized temp views over the
        live catalog (Spark has no information_schema catalog for temp
        views). The helper views themselves (``__info_schema_*``) are
        internal and filtered out of every listing so results are not
        call-order dependent."""
        # a fully-qualified 'datafusion.information_schema.X' reference is
        # the same object (the reference's default catalog)
        query = re.sub(
            r"\bdatafusion\s*\.\s*(?=information_schema\s*\.)",
            "",
            lx.text,
            flags=re.IGNORECASE,
        )

        def _used(name: str) -> bool:
            return bool(
                re.search(
                    rf"\binformation_schema\s*\.\s*{name}\b", query, re.IGNORECASE
                )
            )

        if not self.settings.get_bool("datafusion.catalog.information_schema"):
            first = next(
                (n for n in ("tables", "columns", "views", "schemata",
                             "df_settings") if _used(n)),
                "tables",
            )
            cat = self.settings.get("datafusion.catalog.default_catalog")
            raise ValueError(
                f"Error during planning: table '{cat}.information_schema."
                f"{first}' not found"
            )
        if _used("tables"):
            self.information_schema_tables().createOrReplaceTempView(
                "__info_schema_tables"
            )
        if _used("columns"):
            self._result(
                self._ansi_columns_rows([t.name for t in self._catalog_tables()]),
                self._ANSI_COLUMNS_SCHEMA,
            ).createOrReplaceTempView("__info_schema_columns")
        if _used("views"):
            self.information_schema_views().createOrReplaceTempView(
                "__info_schema_views"
            )
        if _used("schemata"):
            self.information_schema_schemata().createOrReplaceTempView(
                "__info_schema_schemata"
            )
        if _used("df_settings"):
            self.information_schema_df_settings().createOrReplaceTempView(
                "__info_schema_df_settings"
            )
        # column refs qualified through the schema
        # ('information_schema.tables.table_schema') resolve against the
        # alias added below, so strip them down to '<view>.<col>' first
        query = re.sub(
            r"\binformation_schema\s*\.\s*"
            r"(tables|columns|views|schemata|df_settings)\s*\.\s*(?=[A-Za-z_])",
            r"\1.",
            query,
            flags=re.IGNORECASE,
        )
        for name in ("tables", "columns", "views", "schemata", "df_settings"):
            query = re.sub(
                rf"\binformation_schema\s*\.\s*{name}\b",
                f"__info_schema_{name}",
                query,
                flags=re.IGNORECASE,
            )
        # a FROM/JOIN reference with no alias keeps its original table name
        # visible to column refs ('tables.table_schema') — alias it back
        query = re.sub(
            r"\b(FROM|JOIN)(\s+)__info_schema_(\w+)"
            r"(?=\s*(?:$|WHERE\b|GROUP\b|ORDER\b|JOIN\b|LEFT\b|RIGHT\b|"
            r"INNER\b|CROSS\b|LIMIT\b|HAVING\b|UNION\b|;|\)|,))",
            r"\1\2__info_schema_\3 AS \3",
            query,
            flags=re.IGNORECASE,
        )
        return lx.derive(query)

    def _external_clauses(self, lx: Lexed, rest: str, cols: str | None) -> dict:
        """CREATE EXTERNAL TABLE's clause tail (``_scan_clauses``), then
        the planner's semantic checks: partition column membership,
        CsvOptions key validity, single-file partitioned location and
        on-disk partition-order inference. ``rest`` is shielded text."""
        clauses = _scan_clauses(lx, rest, _EXTERNAL_CLAUSES)
        part_inner, location = clauses["partitioned"], clauses["location"]
        if part_inner is not None and cols is not None:
            schema_names = [
                re.match(r'\s*(?:"([^"]+)"|([A-Za-z_]\w*))', c).group(0).strip().strip('"').lower()
                for c in split(cols)
                if re.match(r'\s*(?:"[^"]+"|[A-Za-z_]\w*)', c)
                and not re.match(
                    r"\s*(PRIMARY|FOREIGN|UNIQUE|CONSTRAINT|CHECK)\b", c, re.IGNORECASE
                )
            ]
            for item in split(part_inner):
                toks = item.split()
                if not toks:
                    continue
                pname = toks[0].strip('"').lower()
                if len(toks) == 1:  # bare: must name a schema column
                    if pname not in schema_names:
                        raise ValueError(
                            f'Unable to get field named "{pname}". '
                            f"Valid fields: {schema_names}"
                        )
                elif pname in schema_names:  # typed: must not duplicate one
                    raise ValueError(
                        f"Schema error: Schema contains duplicate "
                        f"unqualified field name {pname}"
                    )
        if clauses["options"] and clauses["fmt"] == "csv":
            valid = {
                "has_header", "delimiter", "quote", "terminator", "escape",
                "comment", "compression", "schema_infer_max_rec",
                "date_format", "datetime_format", "timestamp_format",
                "timestamp_tz_format", "time_format", "null_value",
                "null_regex", "double_quote", "newlines_in_values",
            }
            for kl in clauses["options"]:
                if kl.startswith("format.") and kl[len("format."):] not in valid:
                    raise ValueError(
                        f'Config value "{kl[len("format."):]}" not found on CsvOptions'
                    )
        if part_inner is not None and location is not None:
            if re.match(r"^(/|\./|[A-Za-z]:)", location) or "://" not in location:
                declared = [
                    it.split()[0].strip('"').lower()
                    for it in split(part_inner)
                    if it.split()
                ]
                self._check_disk_partitions(location, declared)
        return clauses

    @staticmethod
    def _check_disk_partitions(path: str, declared: list[str]) -> None:
        """Planner check: a partitioned table needs a directory location,
        and the declared partition columns must be a PREFIX of the key=value
        directory structure already on disk (listing_table_factory.rs
        partition inference). Empty/missing locations pass (nothing written
        yet)."""
        if not os.path.exists(path):
            # ListingTableUrl shape rule: a non-existent path without a
            # trailing slash whose last segment carries an extension is a
            # single FILE url — partitioning needs a directory
            last = path.rstrip("/").rsplit("/", 1)[-1]
            if not path.endswith("/") and "." in last:
                raise ValueError(
                    "Can't create a partitioned table backed by a single "
                    "file, perhaps the URL is missing a trailing slash?"
                )
            return
        if os.path.isfile(path):
            raise ValueError(
                "Can't create a partitioned table backed by a single file, "
                "perhaps the URL is missing a trailing slash?"
            )
        inferred: list[str] | None = None
        for root, _dirs, files in os.walk(path):
            if any(not f.startswith((".", "_")) for f in files):
                relsegs = [
                    s for s in os.path.relpath(root, path).split(os.sep) if s not in (".",)
                ]
                keys = [s.split("=", 1)[0].lower() for s in relsegs if "=" in s]
                inferred = keys
                break
        if inferred:
            if declared != inferred[: len(declared)]:
                raise ValueError(
                    f"Inferred partitions to be {inferred}, but got {declared}"
                )

    def _sql_create_external(self, lx: Lexed, args) -> DataFrame:
        """DataFusion's registration DDL — sql/src/statement.rs
        `CreateExternalTable` / parser.rs `parse_create_external_table`:
        ``CREATE [UNBOUNDED] EXTERNAL TABLE [IF NOT EXISTS] name [(cols)]
        STORED AS fmt [clauses...]`` where the clauses — ``LOCATION 'p'``,
        ``OPTIONS ('k' 'v', ...)`` (the current surface:
        ``format.has_header``, ``format.delimiter``), legacy
        ``WITH HEADER ROW`` / ``DELIMITER 'c'``, and ``PARTITIONED BY`` /
        ``WITH ORDER`` (accepted, advisory here — Spark derives both from
        the files) — may appear in any order. Registers through the same
        listing record and reader as the register_* methods, so DataFusion
        SQL scripts register tables unchanged; returns an empty 0-row frame
        like the reference."""
        query = lx.text
        head = re.match(
            r"\s*CREATE\s+(UNBOUNDED\s+)?EXTERNAL\s+TABLE\s+"
            r"(IF\s+NOT\s+EXISTS\s+)?"
            r"([A-Za-z_][A-Za-z0-9_]*)\s*",
            query,
            re.IGNORECASE,
        )
        if not head:
            raise ValueError(
                f"cannot parse CREATE EXTERNAL TABLE: {lx.unshield()[:80]!r}"
            )
        unbounded, if_not_exists, name = (
            bool(head.group(1)), bool(head.group(2)), head.group(3)
        )
        pos = head.end()
        cols = None
        if query[pos : pos + 1] == "(":  # balanced scan: types may nest parens
            end = close(query, pos)
            end = len(query) if end is None else end
            cols = lx.written(query[pos + 1 : end])
            pos = end + 1
        rest = query[pos:]
        clauses = self._external_clauses(lx, rest, cols)
        for clause, key in (("STORED AS", "fmt"), ("LOCATION", "location")):
            if clauses[key] is None:
                raise ValueError(
                    f"CREATE EXTERNAL TABLE missing {clause}: {lx.unshield()[:80]!r}"
                )
        fmt, path = clauses["fmt"], clauses["location"]
        # format options: current OPTIONS plus the legacy standalone
        # clauses the reference used to accept
        opts = clauses["options"] or {}
        header = clauses["header_row"] or opts.get(
            "format.has_header", opts.get("has_header", "")
        ).lower() in ("true", "1")
        delim = clauses["delimiter"] or opts.get("format.delimiter", opts.get("delimiter"))
        # the table's Spark CSV options, for its reads and its INSERT
        # writes alike. The lexical ones (file_format/csv.rs CsvOptions):
        # quote / escape / comment map 1:1 onto Spark's CSV options
        csv_opts: dict = {"header": header}
        if delim:
            csv_opts["sep"] = delim
        if "format.quote" in opts:
            csv_opts["quote"] = opts["format.quote"]
        # arrow's CSV dialect escapes quotes by DOUBLING ("") by default;
        # univocity's default is backslash — pin to arrow's
        csv_opts["escape"] = opts.get("format.escape", '"')
        if "format.comment" in opts:
            csv_opts["comment"] = opts["format.comment"]
        if self._name_taken(name, if_not_exists):
            return self._empty_result()
        # object-store LOCATIONs: register credentials/scheme with Spark's
        # Hadoop conf (datafusion-cli object_storage.rs parity)
        path = self.register_object_store(path, opts)
        schema = (
            _column_defs_to_ddl(
                cols,
                self.settings.get_bool("datafusion.sql_parser.enable_ident_normalization"),
            )
            if cols
            else None
        )
        # PARTITIONED BY entries may be bare names or carry inline types
        # ("PARTITIONED BY (a string, b string)") — the name is token 0
        parts = [
            c.strip().strip("'\"").split()[0]
            for c in lx.unshield(clauses["partitioned"] or "").split(",")
            if c.strip()
        ]
        if fmt not in FORMATS:
            raise ValueError(f"unsupported STORED AS {fmt!r}")
        # External tables over a local location are INSERT sinks in the
        # reference (FileSinkExec, datasource/file_format/write/
        # orchestration.rs) and may be registered over an EMPTY or missing
        # location: files appear at the first INSERT. The location is
        # created lazily then — the reference's ListingTable never touches
        # disk at CREATE time either, so a LOCATION like
        # 'file://path/to/table' must not leave a stray directory behind.
        local = local_path(path)
        sink = {}
        if not re.match(r"[A-Za-z][A-Za-z0-9+.-]*://", local):
            sink = {"single_file": file_target_format(local) is not None,
                    "unbounded": unbounded}
            if schema is None and not has_files(local):
                raise ValueError(
                    "CREATE EXTERNAL TABLE over an empty location "
                    f"requires a column list: {path!r}"
                )
        # NOT NULL and per-column DEFAULTs apply to external sinks too
        # (insert_to_external.slt column-defaults section)
        declared = self._constraints(cols or "")
        # the reference moves partition columns to the END of the logical
        # schema (insert_to_external.slt:159 'partitioned cols are moved to
        # the end'); the listing reader does that
        self._register_listing(
            name, fmt, path, schema, parts,
            options=csv_opts if fmt == "csv" else None, **sink,
        )
        self._declare(name, *declared)
        return self._empty_result()

    def _spark_sql(self, lx: Lexed, args=None) -> DataFrame:
        """Rewritten query → spark.sql, carrying bound parameters if any."""
        rewritten = self._spark_text(lx)
        if args:
            return self.spark.sql(rewritten, args=args)
        return self.spark.sql(rewritten)

    def _spark_text(self, lx: Lexed) -> str:
        """The Spark SQL text of a lexed statement or expression.

        Every call rewrites its text afresh, as the reference plans
        every ``sql()`` call from its text: nothing carries over between
        calls, so a catalog or settings change made through any path shows
        at the next statement. ``LITERAL_PASSES`` run first, then
        ``PASSES`` in one loop (``run_passes``): the type-aware passes
        (sql/typed.py), then the stateless ones (sql/rewrite.py), in their
        declared order. A pass
        runs only when its trigger matches the text so far, so a trigger
        matches every text its pass would change. Every pass reads the
        lexed statement's shielded text, so none can match function-call
        or operator text INSIDE a quoted string ('select median(x)' stays
        text). A pass that emits a literal registers it on a private copy
        of the literal table."""
        pfad = self.settings.get_bool(
            "datafusion.sql_parser.parse_float_as_decimal"
        )
        work = lx.copy()
        work.text = run_passes(LITERAL_PASSES, work, Scope(pfad=pfad))
        # one relation scope per statement, resolved from that text at most
        # once (the later passes never edit a FROM/JOIN clause)
        rel = Relations(self.spark, work.text)
        return work.unshield(run_passes(PASSES, work, Scope(self, rel, pfad)))

    def _column_tz(self) -> dict[str, dict[str, str]]:
        """The named time zones views declared for their columns, by
        table key (the tz_date_trunc pass reads them)."""
        return {k: rec.column_tz for k, rec in self._records.items() if rec.column_tz}

    def _sql_copy_to(self, lx: Lexed, args=None) -> DataFrame:
        """``COPY (query | table) TO 'path'`` → write_sink, the clauses
        ``STORED AS fmt``, ``PARTITIONED BY (cols)`` and ``OPTIONS (...)``
        in any order (``_scan_clauses``).

        Mirrors DataFusion's CopyTo statement (sql/src/statement.rs:186,
        logical plan CopyTo): the source runs as a regular query, the sink
        is the executor-side file writer (sources/sink.py), and the
        statement returns a single-row ``count`` DataFrame like the
        reference does.
        """
        text = lx.text
        start = re.match(r"\s*COPY\b\s*", text, re.IGNORECASE).end()
        end = start
        if text.startswith("(", start):  # a query: its balanced parenthesis
            shut = close(text, start)
            end = start if shut is None else shut + 1
        m = _COPY_TO.match(text, end)
        if not m:
            raise ValueError(f"cannot parse COPY statement: {lx.unshield()[:80]!r}")
        source, path = (text[start:end] + m.group(1)).strip(), lx.string(m.group(2))
        clauses = _scan_clauses(lx, text[m.end():], _COPY_CLAUSES)
        fmt, copts = clauses["fmt"] or "", clauses["options"] or {}
        part_cols = [
            c.strip().strip("'\"")
            for c in lx.unshield(clauses["partitioned"] or "").split(",")
            if c.strip()
        ]
        if copts.get("execution.keep_partition_by_columns", "").lower() not in (
            "",
            "true",
            "false",
        ):
            raise ValueError("invalid execution.keep_partition_by_columns value")
        if not fmt:
            # DataFusion infers the format from the target extension; a
            # directory target without STORED AS is a plan-time error
            # (copy.slt:156 'Format not explicitly set')
            if "." not in path.rsplit("/", 1)[-1]:
                raise ValueError(
                    "Format not explicitly set and unable to get file "
                    "extension! Use STORED AS to define file format."
                )
            fmt = EXT_FORMATS.get(path.rsplit(".", 1)[-1].lower(), "parquet")
        if source.startswith("("):
            df = self._spark_sql(self._check_query(lx.derive(source[1:-1].strip())), args)
        else:
            df = self.table(source)
        # writer options from COPY OPTIONS (format.* namespace)
        header = copts.get("format.has_header", "false").lower() in ("true", "1")
        compression = copts.get("format.compression", "")
        compression = re.sub(r"\(\d+\)$", "", compression).lower()  # zstd(10)→zstd
        wopts: dict = {}
        if fmt == "csv":
            # DataFusion's CSV COPY writes NO header unless asked
            # (csv_files.slt:142 / copy.slt:438 read back headerless)
            wopts["header"] = header
            if "format.delimiter" in copts:
                wopts["sep"] = copts["format.delimiter"]
            if "format.quote" in copts:
                wopts["quote"] = copts["format.quote"]
            # arrow's writer escapes quotes by DOUBLING unless double_quote
            # is disabled with an explicit escape char; univocity's default
            # is backslash-escaping, so pin escape accordingly
            esc = copts.get("format.escape")
            if copts.get("format.double_quote", "true").lower() != "false" or not esc:
                esc = esc or '"'
            wopts["escape"] = esc
            # arrow does not quote fields that merely START with '#';
            # univocity quotes comment-leading fields unless the writer's
            # comment char is moved off '#'
            wopts["comment"] = "\u0001"
        if compression and compression != "uncompressed" and fmt not in ("arrow", "avro"):
            wopts["compression"] = compression
        if part_cols and copts.get(
            "execution.keep_partition_by_columns", ""
        ).lower() == "true":
            raise NotImplementedError(
                "keep_partition_by_columns: Spark's partitioned writer "
                "always factors partition columns into the directory key"
            )
        # COPY TO '<name>.<ext>' writes ONE FILE in the reference (a later
        # directory-scan table over the parent must find real files, not
        # Spark part-file directories). Extension-less directory targets
        # keep the distributed per-partition layout, and APPEND new files
        # (the reference adds files to an existing directory; copy.slt:188
        # expects 2+4 = 6 rows after a second COPY).
        n = write_sink(
            df,
            fmt,
            path,
            layout="single_file" if file_target_format(path) else "append",
            partition_by=part_cols,
            options=wopts,
        )
        # tables registered over this path (or a parent directory) hold a
        # file listing pinned at registration — re-register them so they
        # see the new files (the reference's ListingTable re-lists per
        # query)
        self._refresh_path_tables(path)
        return self._result([(n,)], "count bigint")

    def _sql_recursive(self, lx: Lexed, args=None) -> DataFrame:
        """Evaluate ``WITH RECURSIVE c1 AS (...), c2 AS (...) <select>``.

        Each CTE is materialized in order as a temp view (so later CTEs and
        the trailing select can reference it); a CTE whose body references
        its own name is split at its last top-level UNION [ALL] into
        base/step and run through the fixpoint driver. Views are dropped
        (and any shadowed same-name view restored) before returning — the
        returned DataFrame's plan is already resolved, so the drop can't
        unbind it.
        """
        from arrow_datafusion_spark.plans.recursive import recursive_query

        if not self.settings.get_bool("datafusion.execution.enable_recursive_ctes"):
            raise ValueError(
                "This feature is not implemented: Recursive CTEs are not enabled"
            )
        ctes, rest = _parse_with_ctes(lx)
        shadowed: list[tuple[str, DataFrame | None]] = []
        try:
            for name, cols, body in ctes:
                try:
                    prev = self.spark.table(name)
                except Exception:
                    prev = None
                shadowed.append((name, prev))
                if re.search(rf"\b{re.escape(name)}\b", body):
                    base_sql, step_sql, distinct = _split_recursive_union(body)
                    # Multiple table references to the recursive CTE inside
                    # its own step are rejected, exactly like the reference
                    # (recursive_query.rs: "Multiple recursive references to
                    # the same CTE are not supported"). Semantically they'd
                    # need per-iteration self-joins; operationally each
                    # composed step would embed the frontier plan TWICE, so
                    # the unrolled plan grows 2^k — exponential analysis.
                    # A column qualified by the CTE's name (``, r.m``) is
                    # not a reference.
                    refs = len(
                        re.findall(
                            rf"\b(?:FROM|JOIN)\s+{re.escape(name)}\b",
                            step_sql,
                            re.IGNORECASE,
                        )
                    ) + len(
                        re.findall(
                            rf",\s*{re.escape(name)}\b(?!\s*[.(])",
                            step_sql,
                            re.IGNORECASE,
                        )
                    )
                    if refs > 1:
                        raise ValueError(
                            "This feature is not implemented: Multiple "
                            "recursive references to the same CTE are not "
                            "supported"
                        )
                    base = self._spark_sql(lx.derive(base_sql), args)
                    if cols:
                        base = base.toDF(*cols)

                    def step(
                        frontier: DataFrame,
                        _sql: Lexed = lx.derive(step_sql),
                        _name: str = name,
                        _cols: tuple[str, ...] | None = cols,
                    ) -> DataFrame:
                        frontier.createOrReplaceTempView(_name)
                        out = self._spark_sql(_sql, args)
                        return out.toDF(*_cols) if _cols else out

                    result = recursive_query(base, step, distinct=distinct)
                else:
                    result = self._spark_sql(lx.derive(body), args)
                    if cols:
                        result = result.toDF(*cols)
                result.createOrReplaceTempView(name)
            return self._spark_sql(lx.derive(rest), args)
        finally:
            for name, prev in reversed(shadowed):
                if prev is not None:
                    prev.createOrReplaceTempView(name)
                else:
                    self.spark.catalog.dropTempView(name)

    # -- introspection (information_schema.rs:45-54, EXPLAIN/DESCRIBE) ------

    def _catalog_tables(self):
        """listTables() minus the internal ``__info_schema_*`` helper views
        (they exist only to serve information_schema SQL and must not appear
        in listings — the reference serves these from a dedicated provider,
        not session tables) and minus a managed table a temp view of the
        same name shadows (the name resolves to the view)."""
        tables = [
            t
            for t in self.spark.catalog.listTables()
            if not t.name.startswith("__info_schema_")
        ]
        temp = {t.name for t in tables if t.isTemporary}
        return [t for t in tables if t.isTemporary or t.name not in temp]

    _INFO_SCHEMA_VIEWS = ("columns", "df_settings", "schemata", "tables", "views")

    def information_schema_tables(self) -> DataFrame:
        """information_schema.tables (information_schema.rs
        InformationSchemaTables): the five information_schema views under
        the ``information_schema`` schema, then every catalog object under
        the default schema — BASE TABLE or VIEW, displayed under the
        configured default_catalog/default_schema names the way the
        reference displays its catalog tree."""
        cat = self.settings.get("datafusion.catalog.default_catalog")
        sch = self.settings.get("datafusion.catalog.default_schema")
        rows = [
            (cat, "information_schema", v, "VIEW") for v in self._INFO_SCHEMA_VIEWS
        ]
        for t in self._catalog_tables():
            kind = (
                "VIEW"
                if t.tableType == "VIEW" or self._record(t.name).view_sql is not None
                else "BASE TABLE"
            )
            rows.append((cat, sch, t.name, kind))
        return self._result(
            rows, "table_catalog string, table_schema string, table_name string, "
            "table_type string",
        )

    def information_schema_columns(self, table: str) -> DataFrame:
        """information_schema.columns for one table (ANSI 15-column layout)."""
        return self._result(
            self._ansi_columns_rows([table]), self._ANSI_COLUMNS_SCHEMA
        )

    def information_schema_views(self) -> DataFrame:
        """information_schema.views (information_schema.rs ViewsTable):
        temp views with their defining SQL where known (register_view
        records it; DataFrame-registered views have NULL definition, same
        as the reference's non-SQL views)."""
        # Only genuine view objects: names registered through the VIEW path
        # (a record with view_sql) or catalog VIEW entries —
        # register_table'd fixtures are temp views underneath but are
        # TABLES to the user, and the reference's ViewsTable
        # (information_schema.rs) lists only views.
        cat = self.settings.get("datafusion.catalog.default_catalog")
        sch = self.settings.get("datafusion.catalog.default_schema")
        rows = []
        for t in self._catalog_tables():
            sql = self._record(t.name).view_sql
            if t.tableType == "VIEW" or sql is not None:
                rows.append((cat, sch, t.name, sql))
        return self._result(
            rows, "table_catalog string, table_schema string, table_name string, "
            "definition string",
        )

    def information_schema_schemata(self) -> DataFrame:
        """information_schema.schemata (information_schema.rs
        SchemataTable): one row for the default schema, plus one per
        user-created schema (CREATE SCHEMA → Spark database). Spark's
        ``default`` database and the session's current database both
        present as the configured default_schema — they are the same
        "public" schema role; other databases keep their names."""
        cat = self.settings.get("datafusion.catalog.default_catalog")
        sch = self.settings.get("datafusion.catalog.default_schema")
        current = self.spark.catalog.currentDatabase()
        names = [sch]
        for d in self.spark.catalog.listDatabases():
            if d.name not in ("default", current):
                names.append(d.name)
        rows = [(cat, n, None, None, None, None, None) for n in names]
        return self._result(
            rows, "catalog_name string, schema_name string, schema_owner string, "
            "default_character_set_catalog string, "
            "default_character_set_schema string, "
            "default_character_set_name string, sql_path string",
        )

    def information_schema_df_settings(self) -> DataFrame:
        """information_schema.df_settings (information_schema.rs
        DfSettingsTable — the engine's live config as a (name, value)
        table), served from the DataFusion-compatible settings registry."""
        return self._result(
            self.settings.rows(), "name string, value string"
        )

    def describe_table(self, name: str) -> DataFrame:
        return self.sql(f"DESCRIBE TABLE {name}")

    def explain_sql(self, query: str, mode: str = "formatted") -> str:
        """EXPLAIN through Catalyst (the reference's Explain plan variant)."""
        plan = self.sql(query)._jdf.queryExecution()
        return (
            plan.explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    mode
                )
            )
        )

    def analyze(self, query: str, params=None) -> str:
        """EXPLAIN ANALYZE analog (AnalyzeExec,
        /root/reference/datafusion/physical-plan/src/analyze.rs:42): execute
        the query, then render the EXECUTED physical plan — the AQE final
        plan — with each operator's runtime metrics (output rows, timings,
        shuffle/scan sizes) inlined, the way the reference appends
        ``metrics=[...]`` per operator."""
        return self._analyze_df(self.sql(query, params))

    def _analyze_df(self, df: DataFrame) -> str:
        df.collect()  # run it; metrics accumulate on the executed plan
        qe = df._jdf.queryExecution()
        lines: list[str] = []

        def walk(node, depth: int) -> None:
            name = node.nodeName()
            # AQE wrapper nodes: descend into the (final) executed subplan
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                walk(node.executedPlan(), depth)
                return
            if cls in ("QueryStageExec", "ShuffleQueryStageExec",
                       "BroadcastQueryStageExec", "TableCacheQueryStageExec",
                       "ResultQueryStageExec"):
                walk(node.plan(), depth)
                return
            shown = []
            mit = node.metrics().iterator()
            while mit.hasNext():
                kv = mit.next()
                v = kv._2().value()
                if v:  # only metrics that actually accumulated
                    shown.append(f"{kv._1()}={v}")
            lines.append("  " * depth + f"{name} metrics=[{', '.join(sorted(shown))}]")
            it = node.children().iterator()
            while it.hasNext():
                walk(it.next(), depth + 1)

        walk(qe.executedPlan(), 0)
        return "\n".join(lines)

    # -- UDF surface (SURVEY.md §2.11) --------------------------------------

    def register_udf(self, name: str, fn: Callable, return_type) -> None:
        """Row-at-a-time scalar UDF (ScalarUDFImpl, expr/src/udf.rs:328).
        Prefer register_pandas_udf — this is the slow path."""
        self._dropped_functions.discard(name.lower())
        self.spark.udf.register(name, fn, return_type)

    def register_pandas_udf(self, name: str, fn: Callable, return_type) -> None:
        """Vectorized (Arrow-batched) scalar UDF — the fast Python path."""
        from pyspark.sql.functions import pandas_udf

        self._dropped_functions.discard(name.lower())
        self.spark.udf.register(name, pandas_udf(fn, return_type))

    def register_sql_macro(self, ddl: str) -> None:
        """Register a pure-SQL function (Spark 4 SQL UDF) — zero Python cost."""
        m = re.search(r"\bFUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?`?([A-Za-z_]\w*)`?", ddl, re.IGNORECASE)
        if m:
            self._dropped_functions.discard(m.group(1).lower())
        self.spark.sql(ddl)

    def register_udtf(self, name: str, udtf_cls) -> None:
        """Table function (TableFunctionImpl, core/src/datasource/function.rs:28):
        a Python UDTF usable as ``SELECT * FROM name(...)`` or LATERAL."""
        self.spark.udtf.register(name, udtf_cls)


# class-level weak containers (declared here so the class body's annotations
# stay readable; weakly keyed so stopped sessions are collectable)
SessionContext._MACROS_DONE = weakref.WeakSet()
