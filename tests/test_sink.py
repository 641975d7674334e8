"""The file sink behind COPY TO and INSERT INTO an external table
(``sources/sink.py``, the DataSinkExec analog).

For every format each statement writes on the executors in exactly one
Spark job and returns the count of the rows it wrote; a second COPY into a
directory appends; a table registered over the directory sees the new
files; a ``.arrow`` target infers Arrow IPC. Every statement runs on a
thread joined with a bound, so a row count that never arrives fails the
test instead of hanging the suite.
"""

from __future__ import annotations

import ast
import os
import threading
import uuid

import pytest

FORMATS = ("parquet", "csv", "json", "arrow", "avro")
# leading bytes of a single-file target, per binary format
MAGIC = {"parquet": b"PAR1", "arrow": b"ARROW1", "avro": b"Obj\x01"}
SRC = "SELECT n_nationkey AS k, n_name AS name FROM nation"
COLS = "(k BIGINT, name VARCHAR)"


@pytest.fixture(scope="module")
def ctx(spark, sf_dir):
    from arrow_datafusion_spark.context import SessionContext

    c = SessionContext(spark.newSession())
    c.register_parquet("nation", f"{sf_dir}/nation.parquet")
    return c


@pytest.fixture(scope="module")
def nation(ctx):
    return sorted(tuple(r) for r in ctx.sql(SRC).collect())


def _run(ctx, text: str, timeout: float = 120.0) -> tuple[int, int]:
    """(returned count, Spark jobs) of one statement."""
    ((n,),), jobs = in_job_group(
        ctx.spark.sparkContext, lambda: ctx.sql(text).collect(), timeout, text
    )
    return n, jobs


def in_job_group(sc, fn, timeout: float = 120.0, what: str = "") -> tuple:
    """(``fn()``, Spark jobs it ran), run on a thread in its own job group
    and joined with a bound."""
    group = f"sink-{uuid.uuid4().hex}"
    out: dict = {}

    def body():
        sc.setJobGroup(group, group)
        try:
            out["value"] = fn()
        except Exception as exc:  # re-raised on the test's thread
            out["error"] = exc
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    t = threading.Thread(target=body, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), f"no result within {timeout:.0f} s: {what}"
    if "error" in out:
        raise out["error"]
    return out["value"], len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(ctx, table: str) -> list[tuple]:
    return sorted(tuple(r) for r in ctx.sql(f"SELECT k, name FROM {table}").collect())


def _register(ctx, name: str, fmt: str, location: str) -> None:
    ctx.sql(f"CREATE EXTERNAL TABLE {name} {COLS} STORED AS {fmt} LOCATION '{location}'")


@pytest.mark.parametrize("fmt", FORMATS)
def test_directory_copy_appends(ctx, nation, tmp_path, fmt):
    target = str(tmp_path / "dir")
    copy = f"COPY ({SRC}) TO '{target}' STORED AS {fmt}"
    assert _run(ctx, copy) == (len(nation), 1)
    _register(ctx, f"copied_{fmt}", fmt, target)
    assert _rows(ctx, f"copied_{fmt}") == nation
    # the second COPY adds files, and the table over the directory sees them
    assert _run(ctx, copy) == (len(nation), 1)
    assert _rows(ctx, f"copied_{fmt}") == sorted(nation * 2)


@pytest.mark.parametrize("fmt", FORMATS)
def test_single_file_copy_infers_its_format(ctx, nation, tmp_path, fmt):
    target = str(tmp_path / f"nation.{fmt}")
    assert _run(ctx, f"COPY ({SRC}) TO '{target}'") == (len(nation), 1)
    assert os.path.isfile(target)
    with open(target, "rb") as fh:
        assert fh.read(8).startswith(MAGIC.get(fmt, b""))
    _register(ctx, f"single_{fmt}", fmt, target)
    assert _rows(ctx, f"single_{fmt}") == nation


@pytest.mark.parametrize("fmt", FORMATS)
def test_empty_copy(ctx, tmp_path, fmt):
    one = str(tmp_path / f"none.{fmt}")
    assert _run(ctx, f"COPY ({SRC} WHERE false) TO '{one}'") == (0, 1)
    assert os.path.isfile(one)
    _register(ctx, f"empty_one_{fmt}", fmt, one)
    assert _rows(ctx, f"empty_one_{fmt}") == []
    many = str(tmp_path / "none")
    assert _run(ctx, f"COPY ({SRC} LIMIT 0) TO '{many}' STORED AS {fmt}") == (0, 1)
    _register(ctx, f"empty_dir_{fmt}", fmt, many)
    assert _rows(ctx, f"empty_dir_{fmt}") == []


@pytest.mark.parametrize("fmt", FORMATS)
def test_insert_into_external_table(ctx, nation, tmp_path, fmt):
    table = f"sink_{fmt}"
    _register(ctx, table, fmt, f"{tmp_path}/ext/")
    insert = f"INSERT INTO {table} {SRC}"
    assert _run(ctx, insert) == (len(nation), 1)
    assert _rows(ctx, table) == nation
    assert _run(ctx, insert) == (len(nation), 1)
    assert _rows(ctx, table) == sorted(nation * 2)


def test_catalog_insert_counts_from_the_write(ctx):
    ctx.sql("CREATE TABLE sink_catalog (k BIGINT, name VARCHAR)")
    try:
        # native INSERT: the write command's own row metric
        assert _run(ctx, f"INSERT INTO sink_catalog {SRC}") == (25, 1)
        # coerced INSERT (literal rows): observed on the write
        assert _run(ctx, "INSERT INTO sink_catalog VALUES (1, 'x'), (2, 'y')") == (2, 1)
        # a shuffling source puts the write command inside an AQE stage
        n, _ = _run(
            ctx,
            "INSERT INTO sink_catalog SELECT n_regionkey, max(n_name) FROM nation "
            "GROUP BY n_regionkey",
        )
        assert n == 5
        assert ctx.sql("SELECT count(*) FROM sink_catalog").collect()[0][0] == 32
    finally:
        ctx.spark.sql("DROP TABLE IF EXISTS sink_catalog")


def test_partitioned_arrow_insert(ctx, sf_dir, tmp_path):
    ctx.register_parquet("region", f"{sf_dir}/region.parquet")
    ctx.sql(
        "CREATE EXTERNAL TABLE region_arrow (r_name VARCHAR, r_regionkey BIGINT) "
        f"STORED AS ARROW PARTITIONED BY (r_regionkey) LOCATION '{tmp_path}/ra/'"
    )
    n, jobs = _run(ctx, "INSERT INTO region_arrow SELECT r_name, r_regionkey FROM region")
    assert (n, jobs) == (5, 1)
    assert sorted(os.listdir(tmp_path / "ra")) == [f"r_regionkey={i}" for i in range(5)]
    got = ctx.sql("SELECT r_regionkey, r_name FROM region_arrow").collect()
    want = ctx.sql("SELECT r_regionkey, r_name FROM region").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_partitioned_avro_insert_is_rejected(ctx, tmp_path):
    ctx.sql(
        "CREATE EXTERNAL TABLE part_avro (a BIGINT, b BIGINT) STORED AS AVRO "
        f"PARTITIONED BY (b) LOCATION '{tmp_path}/pa/'"
    )
    with pytest.raises(NotImplementedError, match="partitioned Avro"):
        ctx.sql("INSERT INTO part_avro VALUES (1, 2)")


def _calls(path: str, names: set[str]) -> list[str]:
    """``name(`` / ``x.name(`` calls in a source file, as unparsed text."""
    tree = ast.parse(open(path).read())
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in names:
                found.append(ast.unparse(f))
    return found


def test_context_writes_files_only_through_write_sink():
    """No file write, driver-side Arrow collect or part-file move is left
    in the SQL front end: they all live behind sources/sink.write_sink."""
    from arrow_datafusion_spark import context

    names = {"toArrow", "save", "move", "write_avro_partitioned",
             "write_arrow_partitioned"}
    assert _calls(context.__file__, names) == []


def test_format_writers_are_reached_only_through_write_sink():
    import arrow_datafusion_spark as pkg

    root = os.path.dirname(pkg.__file__)
    callers = []
    for base, _, files in os.walk(root):
        for f in files:
            path = os.path.join(base, f)
            if f.endswith(".py") and _calls(
                path, {"write_avro_partitioned", "write_arrow_partitioned"}
            ):
                callers.append(os.path.relpath(path, root))
    assert callers == [os.path.join("sources", "sink.py")]


def test_timestamps_are_written_as_int64_micros(ctx, tmp_path):
    # the reference writes TIMESTAMP(MICROS/NANOS); Spark's default INT96
    # is a deprecated physical type other readers decode as nanoseconds
    import glob

    import pyarrow.parquet as pq

    ts = "TIMESTAMP '2020-01-01 00:00:00.123456'"
    want = ctx.sql(f"SELECT {ts} AS ts").collect()[0][0]
    copied, ext = f"{tmp_path}/copied/", f"{tmp_path}/ext/"
    ctx.sql(f"COPY (SELECT {ts} AS ts) TO '{copied}' STORED AS PARQUET").collect()
    ctx.sql(f"CREATE EXTERNAL TABLE ts_ext (ts TIMESTAMP) STORED AS PARQUET LOCATION '{ext}'")
    try:
        ctx.sql(f"INSERT INTO ts_ext SELECT {ts} AS ts").collect()
        ctx.register_parquet("ts_copied", copied)
        for table, loc in (("ts_copied", copied), ("ts_ext", ext)):
            files = glob.glob(f"{loc}*.parquet")
            assert files, loc
            for f in files:
                col = pq.read_metadata(f).schema.column(0)
                assert col.physical_type == "INT64", (f, col)
                assert col.converted_type == "TIMESTAMP_MICROS", (f, col)
            assert ctx.sql(f"SELECT ts FROM {table}").collect()[0][0] == want
    finally:
        ctx.deregister_table("ts_ext")
        ctx.deregister_table("ts_copied")


def test_copy_takes_its_clauses_in_either_order(ctx, tmp_path):
    # COPY's clause tail is scanned like CREATE EXTERNAL TABLE's: any
    # order, each clause at most once (parser.rs parse_copy)
    lines = {}
    for name, clauses in (
        ("stored_first", "STORED AS CSV OPTIONS ('format.has_header' 'true')"),
        ("options_first", "OPTIONS ('format.has_header' 'true') STORED AS CSV"),
    ):
        target = tmp_path / f"{name}.csv"
        assert _run(ctx, f"COPY ({SRC}) TO '{target}' {clauses}") == (25, 1)
        lines[name] = target.read_text().splitlines()
    first, second = lines["stored_first"], lines["options_first"]
    assert first[0] == second[0] == "k,name"
    assert sorted(first[1:]) == sorted(second[1:]) and len(first) == 26


@pytest.mark.parametrize(
    "options",
    [
        "('format.has_header' 'true')",
        "(format.has_header true)",
        "('format.has_header' true)",
        "(format.has_header 'true')",
    ],
)
def test_options_keys_and_values_quoted_or_bare(ctx, tmp_path, options):
    # one OPTIONS parser for COPY and CREATE EXTERNAL TABLE: a key and a
    # value may each be quoted or bare (parser.rs parse_value_options)
    path = tmp_path / "two.csv"
    path.write_text("a,b\n1,x\n2,y\n")
    name = f"opts_{uuid.uuid4().hex[:8]}"
    ctx.sql(
        f"CREATE EXTERNAL TABLE {name} (a INT, b VARCHAR) STORED AS CSV "
        f"LOCATION '{path}' OPTIONS {options}"
    )
    try:
        got = ctx.sql(f"SELECT a, b FROM {name}").collect()
        assert sorted(tuple(r) for r in got) == [(1, "x"), (2, "y")]
    finally:
        ctx.deregister_table(name)
