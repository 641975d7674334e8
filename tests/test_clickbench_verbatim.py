"""Run the reference's ClickBench statements AS-WRITTEN, vs DuckDB.

The reference ships ClickBench verbatim
(/root/reference/benchmarks/queries/clickbench/queries.sql — 43
statements; extended.sql — 3 more; runner benchmarks/src/clickbench.rs).
clickbench.slt already proves the engine ACCEPTS the verbatim text over
the reference's 10-row sample; this test runs every statement unmodified
through ``SessionContext.sql`` against the 100k-row full-schema fixture
(tests/hits_fixture.py) and differential-checks the results against
DuckDB running the same statement.

The Spark side is ALWAYS the reference's own SQL text. The DuckDB oracle
text gets two mechanical, documented dialect substitutions (DuckDB can't
parse them; both are DataFusion-specific spellings):
- ``"EventDate"::INT::DATE``  →  ``(DATE '1970-01-01' + "EventDate"::INT)``
  (DuckDB has no INT→DATE cast; date + int-days is its equivalent)
- ``to_timestamp_seconds(x)`` →  ``to_timestamp(x)::TIMESTAMP``
  (DataFusion builtin; DuckDB's to_timestamp yields timestamptz — cast
  back to naive under the session's UTC timezone)

Comparison is POSITIONAL (unaliased aggregate column names are
engine-specific), row-order-insensitive unless the query orders, floats
at 1e-8 relative. Statements whose result SET is under-determined by SQL
on any engine pair are checked as rows-only and say why:
- Q17 ``GROUP BY ... LIMIT 10`` with no ORDER BY — arbitrary 10 groups.
- Q38/Q39 ``ORDER BY c DESC LIMIT 10 OFFSET 1000`` — the offset lands in
  the count-1 tail where thousands of groups tie; which ties surface is
  engine order. (Q40's OFFSET 10000 exceeds its group count on this
  fixture → deterministically empty, so it stays exact.)
"""

from __future__ import annotations

import os
import re

import pytest

_QUERIES_SQL = "/root/reference/benchmarks/queries/clickbench/queries.sql"
_EXTENDED_SQL = "/root/reference/benchmarks/queries/clickbench/extended.sql"
for _path in (_QUERIES_SQL, _EXTENDED_SQL):
    if not os.path.exists(_path):
        pytest.skip(f"reference clickbench queries absent: {_path}", allow_module_level=True)

# rows-only checks: result set under-determined (see module docstring)
_ROWS_ONLY = {
    "q17": "GROUP BY ... LIMIT without ORDER BY: arbitrary group subset",
    "q38": "OFFSET 1000 lands among count-1 ties: tie choice is engine order",
    "q39": "OFFSET 1000 lands among count-1 ties: tie choice is engine order",
}


def _load_statements() -> list[tuple[str, str]]:
    out = []
    for path, prefix in ((_QUERIES_SQL, "q"), (_EXTENDED_SQL, "xq")):
        with open(path) as f:
            stmts = [s.strip() for s in f.read().split(";") if s.strip()]
        out.extend((f"{prefix}{i}", s) for i, s in enumerate(stmts))
    return out


_STATEMENTS = _load_statements()


def _duckdb_dialect(sql: str) -> str:
    sql = re.sub(
        r'("?\w+"?)\s*::\s*INT\s*::\s*DATE',
        r"(DATE '1970-01-01' + \1::INT)",
        sql,
        flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"\bto_timestamp_seconds\s*\(([^()]*)\)",
        r"to_timestamp(\1)::TIMESTAMP",
        sql,
        flags=re.IGNORECASE,
    )
    return sql


@pytest.fixture(scope="module")
def hits_ctx(spark):
    from tests import hits_fixture
    from arrow_datafusion_spark.context import SessionContext

    path = hits_fixture.generate()
    spark = spark.newSession()
    ctx = SessionContext(spark)
    ctx.register_parquet("hits", path)
    import duckdb

    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql(f"CREATE VIEW hits AS SELECT * FROM read_parquet('{path}')")
    return ctx, con


@pytest.mark.parametrize("name,sql", _STATEMENTS, ids=[n for n, _ in _STATEMENTS])
def test_clickbench_verbatim(hits_ctx, name, sql):
    from tests.oracle_harness import _norm, _sort_key, _values_close

    ctx, con = hits_ctx
    sdf = ctx.sql(sql)  # the reference's own SQL text, unmodified
    s_rows = [tuple(_norm(v) for v in row) for row in sdf.collect()]
    d_rows = [
        tuple(_norm(v) for v in row)
        for row in con.sql(_duckdb_dialect(sql)).fetchall()
    ]
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    if s_rows:
        assert len(s_rows[0]) == len(d_rows[0]), f"{name}: column count differs"
    if name in _ROWS_ONLY:
        return  # documented rows-only check (see module docstring)
    for i, (sr, dr) in enumerate(
        zip(sorted(s_rows, key=_sort_key), sorted(d_rows, key=_sort_key))
    ):
        assert _values_close(sr, dr, rtol=1e-8), (
            f"{name} row {i} differs:\n  spark : {sr}\n  duckdb: {dr}"
        )
