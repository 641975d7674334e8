"""The reader behind every file-backed table (``sources/listing.py``, the
ListingTable analog).

For every format a table's column types are fixed when it is registered:
``typeof``, DESCRIBE and ``information_schema.columns`` agree, and stay the
same after an INSERT and after a COPY into the table's location. A dropped
external table leaves no record behind, a re-list after a COPY runs no
schema-inference job, and a parenthesized INSERT source is a query, not a
column list. A local parquet table takes its schema from a footer read on
the driver: registering one runs no Spark job, the schema equals Spark's
own inference on every parquet file the tests read or write, and its
nullability reaches DESCRIBE and ``information_schema.columns`` alike.
``session.load_tables`` resolves the fixture tables on a thread pool that
carries the caller's job group, registers them in the given session only,
gives the frames and views a table-by-table read gives, and leaves no
thread behind. An INSERT or CTAS reads its source columns by position.

Every table's state sits in one record keyed by the lower-cased name, as
Spark's catalog names it: a mixed-case name reads, inserts, drops and
re-lists one table, and no record outlives its table."""

from __future__ import annotations

import ast
import glob
import itertools
import os

import pytest

from tests.conftest import FULL_TESTS, SF_DIR
from tests.test_sink import SRC as NATION_SRC
from tests.test_sink import _run, in_job_group

FORMATS = ("parquet", "csv", "json", "arrow", "avro")
# files hold k as BIGINT; a declared table reads it as INT
SRC = "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), (CAST(2 AS BIGINT), 'b')) AS t(k, name)"
ARROW_NAMES = {"int": "Int32", "bigint": "Int64", "string": "Utf8"}


@pytest.fixture(scope="module")
def ctx(spark, sf_dir):
    from arrow_datafusion_spark.context import SessionContext

    c = SessionContext(spark.newSession())
    c.register_parquet("nation", f"{sf_dir}/nation.parquet")
    return c


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


@pytest.mark.parametrize("external", [False, True], ids=["catalog", "external"])
def test_insert_source_names_holding_a_dot(ctx, tmp_path, external):
    # an un-aliased source column is named by its text (`1.5`,
    # `CAST(2.5 AS INT)`): the source is read by position, not by that name
    table = f"listing_dotted_{int(external)}"
    ts = "TIMESTAMP '2020-01-01 00:00:00.123456'"
    cols = "(a DOUBLE, b INT, c TIMESTAMP)"
    if external:
        ctx.sql(f"CREATE EXTERNAL TABLE {table} {cols} STORED AS PARQUET LOCATION '{tmp_path}/d/'")
    else:
        ctx.sql(f"CREATE TABLE {table} {cols}")
    try:
        want = ctx.sql(f"SELECT {ts}").collect()[0][0]
        # generated names `1.5`, `CAST(2.5 AS INT)`, `TIMESTAMP '...123456'`;
        # then two columns both named `2`
        for src in (f"1.5, CAST(2.5 AS INT), {ts}", f"2, 2, {ts}"):
            assert ctx.sql(f"INSERT INTO {table} SELECT {src}").collect() == [(1,)]
        rows = ctx.sql(f"SELECT a, b, c FROM {table} ORDER BY a").collect()
        assert [tuple(r) for r in rows] == [(1.5, 2, want), (2.0, 2, want)]
    finally:
        ctx.spark.sql(f"DROP TABLE IF EXISTS {table}")
    ctx.sql("CREATE TABLE listing_dotted_ctas (a DOUBLE) AS SELECT 1.5")
    try:
        assert ctx.sql("SELECT a FROM listing_dotted_ctas").collect() == [(1.5,)]
    finally:
        ctx.spark.sql("DROP TABLE IF EXISTS listing_dotted_ctas")


def test_package_reads_files_only_through_sources():
    """No ``spark.read.<format>`` outside ``sources/``: every parquet read
    goes through ``read_listing`` and its footer schema. No ``_records``
    outside ``context.py``: the table records are the context's own."""
    import arrow_datafusion_spark

    pkg = os.path.dirname(arrow_datafusion_spark.__file__)
    found = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, pkg)
        found += [
            f"{rel}: {ast.unparse(node)}"
            for node in ast.walk(ast.parse(open(path).read()))
            if isinstance(node, ast.Attribute)
            and (
                isinstance(node.value, ast.Attribute)
                and node.value.attr == "read"
                and not rel.startswith("sources" + os.sep)
                or node.attr == "_records"
                and rel != "context.py"
            )
        ]
    assert found == []


def _fixture_links(sf_dir: str, loc) -> str:
    """A location no earlier load_tables call has memoized, holding the
    fixture tables."""
    from arrow_datafusion_spark.session import ALL_TABLES

    os.makedirs(loc)
    for t in ALL_TABLES:
        os.symlink(f"{sf_dir}/{t}.parquet", f"{loc}/{t}.parquet")
    return str(loc)


def test_parquet_registration_runs_no_job(spark, ctx, sf_dir, tmp_path):
    from arrow_datafusion_spark.session import ALL_TABLES, load_tables

    sc = spark.sparkContext
    data = _fixture_links(sf_dir, tmp_path / "fixtures")
    tables, jobs = in_job_group(sc, lambda: load_tables(spark.newSession(), data))
    assert (sorted(tables), jobs) == (sorted(ALL_TABLES), 0)
    _, jobs = in_job_group(
        sc, lambda: ctx.register_parquet("jobs_nation", f"{sf_dir}/nation.parquet")
    )
    assert jobs == 0
    loc = f"{tmp_path}/ext/"
    ctx.sql(f"COPY ({NATION_SRC}) TO '{loc}' STORED AS PARQUET").collect()
    _, jobs = in_job_group(
        sc, lambda: ctx.sql(f"CREATE EXTERNAL TABLE jobs_ext STORED AS PARQUET LOCATION '{loc}'")
    )
    assert jobs == 0
    assert ctx.sql("SELECT count(*) FROM jobs_ext").collect() == ctx.sql(
        "SELECT count(*) FROM jobs_nation"
    ).collect()


def test_footer_nullability_reaches_describe_and_information_schema(ctx, tmp_path):
    loc = f"{tmp_path}/rp/"
    ctx.sql(f"COPY (SELECT 1 AS a) TO '{loc}' STORED AS PARQUET").collect()
    ctx.sql(f"CREATE EXTERNAL TABLE listing_rp STORED AS PARQUET LOCATION '{loc}'")
    described = [tuple(r) for r in ctx.sql("DESCRIBE listing_rp").collect()]
    listed = [
        tuple(r)
        for r in ctx.sql(
            "SELECT column_name, data_type, is_nullable FROM information_schema.columns "
            "WHERE table_name = 'listing_rp'"
        ).collect()
    ]
    assert described == listed == [("a", "Int32", "NO")]


def test_a_view_replaces_a_file_backed_table(ctx, tmp_path):
    loc = f"{tmp_path}/v/"
    ctx.sql(f"COPY (SELECT 1 AS a) TO '{loc}' STORED AS PARQUET").collect()
    ctx.register_parquet("listing_view", loc)
    ctx.register_view("listing_view", "SELECT 'x' AS z")
    # the listing is gone: a COPY into its old location re-lists nothing
    ctx.sql(f"COPY (SELECT 2 AS a) TO '{loc}' STORED AS PARQUET").collect()
    assert [tuple(r) for r in ctx.sql("SELECT * FROM listing_view").collect()] == [("x",)]
    assert [tuple(r) for r in ctx.sql("DESCRIBE listing_view").collect()] == [
        ("z", "Utf8", "NO")
    ]


# every Spark type a COPY writes, none of them nullable
TYPED_SRC = (
    "SELECT 1 AS a, array(1, 2) AS arr, map('k', 1) AS mp, named_struct('x', 1) AS st, "
    "DATE '2020-01-01' AS dt, TIMESTAMP '2020-01-01 00:00:00' AS ts, "
    "TIMESTAMP_NTZ '2020-01-01 00:00:00' AS tn, CAST(1.5 AS DECIMAL(10, 2)) AS dc, "
    "CAST(1 AS TINYINT) AS ti, CAST(1 AS SMALLINT) AS si, CAST(1.5 AS FLOAT) AS fl, "
    "X'01' AS bn, true AS bo"
)


def test_relist_under_a_footer_schema_with_non_null_nested_types(ctx, tmp_path):
    """The fixed schema holds non-null array elements, map values and
    struct fields; the re-list after a COPY still reads every file."""
    loc = f"{tmp_path}/nested/"
    copy = f"COPY ({TYPED_SRC}) TO '{loc}' STORED AS PARQUET"
    ctx.sql(copy).collect()
    ctx.sql(f"CREATE EXTERNAL TABLE listing_nested STORED AS PARQUET LOCATION '{loc}'")
    ctx.sql(copy).collect()
    rows = ctx.sql("SELECT arr, mp['k'], st.x FROM listing_nested").collect()
    assert [(r[0], r[1], r[2]) for r in rows] == [([1, 2], 1, 1)] * 2


def test_footer_schema_matches_spark_inference(spark, ctx, sf_dir, tmp_path):
    """On every parquet file the tests read or write, the footer's column
    names and types are Spark's inference, and a table read through it has
    Spark's schema; where the footer cannot say (nanosecond timestamps,
    unsigned integers, hive partitions) Spark infers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arrow_datafusion_spark.sources.listing import file_schema, read_listing

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(
        glob.glob(f"{os.path.dirname(sf_dir)}/sf0.001/*.parquet")
        + glob.glob(f"{sf_dir}/*.parquet")
        + glob.glob(f"{repo}/tests/fixtures/**/*.parquet", recursive=True)
        + [f"{repo}/tests/fixtures/substrait/nation_dir"]
    )
    # the file sink's outputs: a directory, a second COPY into it, one
    # file, an empty file, every written type, a hive-partitioned tree
    for target, src, clause in (
        ("dir/", NATION_SRC, "STORED AS PARQUET"),
        ("dir/", NATION_SRC, "STORED AS PARQUET"),
        ("one.parquet", NATION_SRC, ""),
        ("empty.parquet", f"{NATION_SRC} WHERE false", ""),
        ("typed/", TYPED_SRC, "STORED AS PARQUET"),
        ("parts/", NATION_SRC, "STORED AS PARQUET PARTITIONED BY (name)"),
    ):
        ctx.sql(f"COPY ({src}) TO '{tmp_path}/{target}' {clause}").collect()
    paths += [f"{tmp_path}/{t}" for t in ("dir", "one.parquet", "empty.parquet", "typed", "parts")]
    # types Spark reads differently from their Arrow mapping
    for name, arr in (
        ("ns", pa.array([1], pa.timestamp("ns"))),
        ("u32", pa.array([1], pa.uint32())),
    ):
        pq.write_table(pa.table({name: arr}), f"{tmp_path}/{name}.parquet")
        paths.append(f"{tmp_path}/{name}.parquet")

    def named_types(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema]

    inferred = []
    for path in paths:
        spark_schema = spark.read.parquet(path).schema
        footer = file_schema("parquet", path)
        if footer is None:
            inferred.append(os.path.basename(path))
        else:
            assert named_types(footer) == named_types(spark_schema), path
        assert read_listing(spark, "parquet", path).schema == spark_schema, path
    assert sorted(inferred) == ["ns.parquet", "parts", "u32.parquet"]


def _rows(ctx, text: str) -> list[tuple]:
    return [tuple(r) for r in ctx.sql(text).collect()]


def _listed_columns(ctx, table: str) -> list[tuple]:
    return _rows(
        ctx,
        "SELECT column_name, data_type, is_nullable FROM information_schema.columns "
        f"WHERE table_name = '{table}' ORDER BY ordinal_position",
    )


def _copy(ctx, value: int, loc: str) -> None:
    ctx.sql(f"COPY (SELECT {value} AS a) TO '{loc}/' STORED AS PARQUET").collect()


def _dropped_table_stays_dropped(ctx, loc):
    _copy(ctx, 1, loc)
    ctx.register_parquet("Nat", f"{loc}/")
    ctx.sql("DROP TABLE nat")
    _copy(ctx, 2, loc)
    assert not ctx.table_exist("Nat")


def _columns_under_any_spelling(ctx, loc):
    _copy(ctx, 1, loc)
    ctx.register_parquet("Nat", f"{loc}/")
    want = [("a", "Int32", "NO")]
    assert _listed_columns(ctx, "nat") == want
    for spelling in ("Nat", "nat", "NAT"):
        assert _rows(ctx, f"DESCRIBE {spelling}") == want
        assert [r[3:] for r in _rows(ctx, f"SHOW COLUMNS FROM {spelling}")] == want


def _a_view_is_a_view(ctx, loc):
    ctx.register_view("MyView", "SELECT 1 AS v")
    assert [t for t in ctx.tables() if t.lower() == "myview"] == ["myview"]
    kinds = _rows(ctx, "SELECT table_name, table_type FROM information_schema.tables")
    assert ("myview", "VIEW") in kinds
    assert _rows(ctx, "SELECT table_name FROM information_schema.views") == [("myview",)]
    with pytest.raises(Exception, match="doesn't exist"):
        ctx.sql("DROP TABLE myview")
    ctx.sql("DROP VIEW myview")
    assert not ctx.table_exist("MyView")


def _insert_into_external(ctx, loc):
    ctx.sql(f"CREATE EXTERNAL TABLE Ext (a INT) STORED AS PARQUET LOCATION '{loc}/'")
    assert _rows(ctx, "INSERT INTO ext VALUES (1)") == [(1,)]
    assert _rows(ctx, "SELECT a FROM Ext") == [(1,)]


def _insert_into_unbounded(ctx, loc):
    ctx.sql(f"CREATE UNBOUNDED EXTERNAL TABLE U (a INT) STORED AS CSV LOCATION '{loc}/u.csv'")
    assert _rows(ctx, "INSERT INTO u VALUES (1)") == [(1,)]
    assert _rows(ctx, "SELECT a FROM U") == [(1,)]


def _drop_forgets_an_external_table(ctx, loc):
    ctx.sql(f"CREATE EXTERNAL TABLE Ext (a INT) STORED AS PARQUET LOCATION '{loc}/'")
    ctx.sql("DROP TABLE ext")
    assert "ext" not in [t.lower() for t in ctx.tables()]
    _copy(ctx, 1, loc)
    assert not ctx.table_exist("Ext")


def _reload_after_deregister(ctx, loc):
    from arrow_datafusion_spark.session import load_tables

    # a location no earlier load_tables call has memoized
    os.symlink(f"{SF_DIR}/region.parquet", f"{loc}/region.parquet")
    load_tables(ctx.spark, loc, names=("region",))
    ctx.deregister_table("REGION")
    load_tables(ctx.spark, loc, names=("region",))
    assert _rows(ctx, "SELECT count(*) FROM region") == [(5,)]


@pytest.mark.parametrize(
    "case",
    [
        _dropped_table_stays_dropped,
        _columns_under_any_spelling,
        _a_view_is_a_view,
        _insert_into_external,
        _insert_into_unbounded,
        _drop_forgets_an_external_table,
        _reload_after_deregister,
    ],
    ids=lambda case: case.__name__.strip("_"),
)
def test_a_mixed_case_name_is_one_table(spark, tmp_path, case):
    from arrow_datafusion_spark.context import SessionContext

    case(SessionContext(spark.newSession()), str(tmp_path))


# every case spelling of two table names
NAMES = ("sm_a", "SM_A", "Sm_A", "sm_b", "SM_B", "sM_b")
BASES = ("sm_a", "sm_b")


def _ex(full_count: int) -> int:
    return full_count if FULL_TESTS else max(full_count // 6, 10)


def _drop_all(spark) -> None:
    for base in BASES:
        for name in (base, f"{base}__cor_new"):
            spark.catalog.dropTempView(name)
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_table_records_follow_the_catalog(spark, tmp_path):
    """Random DDL, DML and registrations over mixed-case names: no record
    outlives its table, DESCRIBE equals ``information_schema.columns``
    under every spelling, and ``tables()`` lists each table once."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import HealthCheck, settings
    from hypothesis import strategies as st
    from hypothesis.stateful import (
        RuleBasedStateMachine,
        invariant,
        rule,
        run_state_machine_as_test,
    )
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException

    from arrow_datafusion_spark.context import SessionContext

    session = spark.newSession()
    _drop_all(session)
    runs = itertools.count()
    name = st.sampled_from(NAMES)

    class Tables(RuleBasedStateMachine):
        def __init__(self):
            super().__init__()
            self.ctx = SessionContext(session)
            self.checks = 0
            d = tmp_path / f"run{next(runs)}"
            self.loc = {"parquet": f"{d}/p", "csv": f"{d}/c"}
            os.makedirs(self.loc["parquet"])
            os.makedirs(self.loc["csv"])
            pq.write_table(
                pa.table({"a": pa.array([1], pa.int32())}), f"{self.loc['parquet']}/0.parquet"
            )
            with open(f"{self.loc['csv']}/0.csv", "w") as f:
                f.write("1\n")

        def teardown(self):
            _drop_all(session)

        def _try(self, fn) -> None:
            """A statement may be refused (a name taken, a table missing);
            the invariants hold either way."""
            try:
                fn()
            except (ValueError, PySparkException, Py4JError):
                pass

        def _sql(self, text: str) -> None:
            self._try(lambda: self.ctx.sql(text).collect())

        @rule(name=name, fmt=st.sampled_from(("parquet", "csv")))
        def register(self, name, fmt):
            if fmt == "parquet":
                self._try(lambda: self.ctx.register_parquet(name, self.loc[fmt]))
            else:
                self._try(lambda: self.ctx.register_csv(name, self.loc[fmt], "a INT"))

        @rule(name=name)
        def register_view(self, name):
            self._try(lambda: self.ctx.register_view(name, "SELECT 1 AS a, 'x' AS b"))

        @rule(name=name)
        def create_with_columns(self, name):
            self._sql(f"CREATE TABLE {name} (a INT NOT NULL, b INT DEFAULT 7)")

        @rule(name=name)
        def create_as_select(self, name):
            self._sql(f"CREATE TABLE {name} AS SELECT 1 AS a")

        @rule(name=name)
        def create_external(self, name):
            self._sql(
                f"CREATE EXTERNAL TABLE {name} (a INT) STORED AS PARQUET "
                f"LOCATION '{self.loc['parquet']}/'"
            )

        @rule(name=name, columns=st.booleans())
        def create_or_replace(self, name, columns):
            body = "(a INT NOT NULL)" if columns else "AS SELECT 2 AS a"
            self._sql(f"CREATE OR REPLACE TABLE {name} {body}")

        @rule(name=name)
        def drop_table(self, name):
            self._sql(f"DROP TABLE {name}")

        @rule(name=name)
        def drop_view(self, name):
            self._sql(f"DROP VIEW {name}")

        @rule(fmt=st.sampled_from(("parquet", "csv")))
        def copy(self, fmt):
            self._sql(f"COPY (SELECT 2 AS a) TO '{self.loc[fmt]}/' STORED AS {fmt}")

        @rule(name=name)
        def insert(self, name):
            self._sql(f"INSERT INTO {name} (a) VALUES (3)")

        @invariant()
        def records_follow_the_catalog(self):
            live = {t.name for t in session.catalog.listTables()}
            assert set(self.ctx._records) <= live, "a record outlived its table"
            tables = self.ctx.tables()
            assert len(tables) == len({t.lower() for t in tables}), tables
            # DESCRIBE = information_schema.columns, one spelling per check
            # in turn, which keeps the default tier well under a minute
            self.checks += 1
            for table in set(tables) & set(BASES):
                spellings = [n for n in NAMES if n.lower() == table]
                spelling = spellings[self.checks % len(spellings)]
                assert _rows(self.ctx, f"DESCRIBE {spelling}") == _listed_columns(
                    self.ctx, table
                ), spelling

    try:
        run_state_machine_as_test(
            Tables,
            settings=settings(
                max_examples=_ex(60),
                stateful_step_count=6,
                deadline=None,
                derandomize=True,
                suppress_health_check=[HealthCheck.too_slow],
            ),
        )
    finally:
        _drop_all(session)


def test_load_tables_registers_in_each_session(spark, sf_dir, tmp_path):
    # a temp view belongs to one SparkSession, while every newSession()
    # shares the applicationId: the load_tables memos key by session, and
    # the pool registers the views in the session it was given only
    from arrow_datafusion_spark.session import ALL_TABLES, load_tables

    data = _fixture_links(sf_dir, tmp_path / "fixtures")
    first, second = spark.newSession(), spark.newSession()
    load_tables(first, data)
    assert all(first.catalog.tableExists(t) for t in ALL_TABLES)
    assert not any(second.catalog.tableExists(t) for t in ALL_TABLES)
    load_tables(second, data, names=("region",))
    for s in (first, second):
        assert s.sql("SELECT count(*) FROM region").collect()[0][0] == 5


def test_registration_jobs_run_in_the_callers_job_group(spark, sf_dir, tmp_path, monkeypatch):
    # load_tables resolves the tables on a pool: its threads must carry the
    # caller's job group, or the no-job check above would pass vacuously
    from arrow_datafusion_spark import session

    read = session._read_table

    def counted(s, loc, name):
        df = read(s, loc, name)
        df.count()
        return df

    monkeypatch.setattr(session, "_read_table", counted)
    sc = spark.sparkContext
    pooled = _fixture_links(sf_dir, tmp_path / "pooled")
    _, jobs = in_job_group(sc, lambda: session.load_tables(spark.newSession(), pooled))
    alone = _fixture_links(sf_dir, tmp_path / "alone")
    _, sequential = in_job_group(
        sc, lambda: [counted(spark, alone, t) for t in session.ALL_TABLES]
    )
    assert jobs == sequential >= len(session.ALL_TABLES)


def test_concurrent_registration_matches_the_sequential_read(spark, sf_dir, tmp_path):
    # the pool's views and frames are what read_listing gives table by table
    from arrow_datafusion_spark.session import ALL_TABLES, load_tables, normalize_ts
    from arrow_datafusion_spark.sources.listing import read_listing

    data = _fixture_links(sf_dir, tmp_path / "fixtures")
    s = spark.newSession()
    tables = load_tables(s, data)
    assert list(tables) == list(ALL_TABLES)
    views = [t.name for t in s.catalog.listTables() if t.isTemporary]
    assert sorted(views) == sorted(ALL_TABLES)
    for name, df in tables.items():
        want = read_listing(s, "parquet", f"{data}/{name}.parquet")
        if name == "events":
            want = normalize_ts(want)
        assert df.schema == want.schema == s.table(name).schema, name
    assert dict(tables["events"].dtypes)["ts"] == "timestamp"


def test_repeated_loads_leave_no_threads_behind(spark, sf_dir, tmp_path):
    import threading

    from arrow_datafusion_spark.session import load_tables

    s = spark.newSession()
    before = threading.active_count()
    for i in range(20):
        load_tables(s, _fixture_links(sf_dir, tmp_path / str(i)))
    assert threading.active_count() == before


def test_a_failing_table_fails_the_load(spark, sf_dir, tmp_path):
    from arrow_datafusion_spark.session import load_tables

    data = _fixture_links(sf_dir, tmp_path / "fixtures")
    os.remove(f"{data}/orders.parquet")
    with pytest.raises(Exception, match="orders.parquet"):
        load_tables(spark.newSession(), data)


def test_runtime_confs_are_runtime(spark):
    # prepare() sets every _RUNTIME_CONFS key on any session: a static
    # conf there fails on one it did not build
    from arrow_datafusion_spark.session import _RUNTIME_CONFS

    assert [k for k in _RUNTIME_CONFS if not spark.conf.isModifiable(k)] == []
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_drop_and_replace_look_the_name_up(spark, monkeypatch):
    # DROP TABLE, DROP VIEW and CREATE OR REPLACE's rename check decide
    # what a name is with one catalog lookup: a catalog listing costs
    # ~0.15 s a call, however few tables it lists
    from pyspark.sql.catalog import Catalog

    from arrow_datafusion_spark.context import SessionContext

    ctx = SessionContext(spark.newSession())

    def listing(*_a, **_k):
        raise AssertionError("listTables called")

    monkeypatch.setattr(Catalog, "listTables", listing)
    ctx.register_table("kind_r", ctx.spark.range(3))
    with pytest.raises(ValueError, match="doesn't exist"):
        ctx.sql("DROP VIEW kind_r")  # a registered table is no view
    ctx.sql("DROP TABLE kind_r")
    assert not ctx.table_exist("kind_r")
    ctx.sql("CREATE VIEW kind_v AS SELECT 1 AS a")
    with pytest.raises(ValueError, match="doesn't exist"):
        ctx.sql("DROP TABLE kind_v")  # a view is no table
    ctx.sql("DROP VIEW kind_v")
    assert not ctx.table_exist("kind_v")
    try:
        ctx.sql("CREATE TABLE kind_m AS SELECT 1 AS a")
        ctx.sql("CREATE OR REPLACE TABLE kind_m AS SELECT 2 AS a")
        assert ctx.sql("SELECT a FROM kind_m").collect()[0][0] == 2
        ctx.sql("DROP TABLE kind_m")
        assert not ctx.table_exist("kind_m")
    finally:
        ctx.spark.sql("DROP TABLE IF EXISTS kind_m")
        ctx.spark.sql("DROP TABLE IF EXISTS kind_m__cor_new")
