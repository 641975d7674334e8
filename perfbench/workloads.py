"""The benchmark's workloads: which statements a pass runs, in what order,
and the DuckDB query that gives each statement's expected result.

A statement is either a DataFrame builder from the engine's query registries
(timed as ``build``) or SQL text for ``SessionContext.sql`` (timed as
``sql``); either way the action that follows is ``collect()``. The seed only
chooses orders, literal shifts, cutoffs and which SQL texts repeat: the
engine receives nothing but the statements and the generated tables.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
from dataclasses import dataclass
from typing import Callable

from arrow_datafusion_spark.queries import llm, pipeline, tpch
from tests.oracle_harness import _norm, _sort_key, _values_close

# One of the engine's eight pipeline operators, so that this workload and
# tpch_df fit the time a comparison may take: minhash dedup (pandas-UDF
# signatures, the worker-global digest cache, the Jaccard verify) crosses the
# Python worker boundary, which no other workload does. ann_ivf and
# ann_lsh score in pandas UDFs as well and add no mechanism minhash lacks;
# text_tfidf and dedup_embedding are JVM-only plans of the kind tpch_df
# measures; dedup_ngram shares minhash's verifier; dedup_components (a driver
# loop of jobs) costs about 8 s a run with its DuckDB oracle;
# pipeline_decontaminate adds no mechanism the others lack.
PIPELINE_OPS = ("dedup_minhash",)
_PIPELINE_QUERIES = {**llm.QUERIES, **pipeline.QUERIES}
_PIPELINE_ORACLE = {**llm.ORACLE, **pipeline.ORACLE}
_TS_LITERAL = re.compile(r"TIMESTAMP '(\d{4}-\d{2}-\d{2})'")
_SQL_REPEAT_SHARE = 0.25
_LINEITEM_COLS = "l_orderkey, l_partkey, l_quantity, l_extendedprice, l_discount, l_shipdate"


@dataclass
class Statement:
    name: str
    kind: str  # "build" | "sql"
    builder: Callable | None = None
    text: str | None = None
    oracle: str | None = None  # None: the statement must return no rows
    writes_to: str | None = None  # directory a write statement fills


# TPC-H scale factor of the generated tables. At this size the per-statement
# floor (rewrite, Catalyst, codegen, job scheduling) is most of a statement's
# time, and a run with its cold pass and one warm pass takes about a minute
SF = 0.01


class Passes:
    """Generates the statement list of each pass of one workload run.

    The cold pass (pass 0) runs the statements in registry order, so every
    seed pays the one-time costs (Python worker start, first write) on the
    same statement; later passes run them in seeded order."""

    def __init__(self, workload: str, seed: int, write_dir: str):
        self.workload = workload
        self.rng = random.Random(f"{workload}:{seed}")
        self.write_dir = write_dir
        self._seen_sql: dict[str, list[str]] = {}

    def statements(self, pass_no: int) -> list[Statement]:
        return getattr(self, f"_{self.workload}")(pass_no)

    def _order(self, names, pass_no: int) -> list[str]:
        names = list(names)
        if pass_no:
            self.rng.shuffle(names)
        return names

    def _tpch_df(self, pass_no: int) -> list[Statement]:
        names = self._order(tpch.QUERIES, pass_no)
        return [Statement(n, "build", builder=tpch.QUERIES[n], oracle=tpch.ORACLE[n]) for n in names]

    def _pipeline(self, pass_no: int) -> list[Statement]:
        names = self._order(PIPELINE_OPS, pass_no)
        ops = [
            Statement(n, "build", builder=_PIPELINE_QUERIES[n], oracle=_PIPELINE_ORACLE[n])
            for n in names
        ]
        return ops + self._etl_write(pass_no)  # a pipeline ends by writing its output

    def _sql_adhoc(self, pass_no: int) -> list[Statement]:
        names = self._order(tpch.QUERIES, pass_no)
        out = []
        for name in names:
            base = tpch.ORACLE[name]
            seen = self._seen_sql.setdefault(name, [])
            if not _TS_LITERAL.search(base):
                text = base  # no literal to shift: every later pass repeats it
            elif seen and self.rng.random() < _SQL_REPEAT_SHARE:
                text = self.rng.choice(seen)
            else:
                days = self.rng.choice([d for d in range(-60, 61) if d])
                text = _shift_dates(base, days)
            seen.append(text)
            out.append(Statement(name, "sql", text=text, oracle=text))
        return out

    def _etl_write(self, pass_no: int) -> list[Statement]:
        # the seed moves the cutoffs within a quarter, so every seed writes
        # about the same rows into the same three partitions
        part_col = "l_returnflag"
        cut_lo = dt.date(1996, 1, 1) + dt.timedelta(days=self.rng.randrange(0, 90))
        cut_hi = cut_lo + dt.timedelta(days=730 + self.rng.randrange(0, 90))
        table, li_dir = f"li_p{pass_no}", os.path.join(self.write_dir, f"p{pass_no}_lineitem")
        cols = f"{_LINEITEM_COLS}, {part_col}"
        lo = f"l_shipdate < TIMESTAMP '{cut_lo}'"
        hi = f"l_shipdate >= TIMESTAMP '{cut_hi}'"
        readback = (
            f"SELECT {part_col}, count(*) AS n, SUM(l_quantity) AS qty, "
            "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS price "
            "FROM {src} GROUP BY " + part_col
        )
        return [
            Statement("copy_partitioned", "sql",
                      text=f"COPY (SELECT {cols} FROM lineitem WHERE {lo}) TO '{li_dir}' "
                           f"STORED AS PARQUET PARTITIONED BY ({part_col})",
                      oracle=f"SELECT count(*) AS count FROM lineitem WHERE {lo}",
                      writes_to=li_dir),
            Statement("create_external", "sql",
                      text=f"CREATE EXTERNAL TABLE {table} (l_orderkey BIGINT, l_partkey BIGINT, "
                           "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, "
                           f"l_shipdate TIMESTAMP, {part_col} VARCHAR) STORED AS PARQUET "
                           f"PARTITIONED BY ({part_col}) LOCATION '{li_dir}'"),
            Statement("insert_into", "sql",
                      text=f"INSERT INTO {table} SELECT {cols} FROM lineitem WHERE {hi}",
                      oracle=f"SELECT count(*) AS count FROM lineitem WHERE {hi}",
                      writes_to=li_dir),
            Statement("read_back", "sql",
                      text=readback.format(src=table),
                      oracle=readback.format(src=f"lineitem WHERE {lo} OR {hi}")),
        ]


def _shift_dates(text: str, days: int) -> str:
    def shift(m: re.Match) -> str:
        d = dt.date.fromisoformat(m.group(1)) + dt.timedelta(days=days)
        return f"TIMESTAMP '{d}'"

    return _TS_LITERAL.sub(shift, text)


def expected(con, stmt: Statement):
    """DuckDB's answer for ``stmt``: (column names, rows), or None for DDL."""
    if stmt.oracle is None:
        return None
    rel = con.sql(stmt.oracle)
    return [c.lower() for c in rel.columns], rel.fetchall()


def mismatch(cols: list[str], rows: list[tuple], want, rtol: float = 1e-6) -> str | None:
    """Compare a collected result against ``expected``; the reason it differs,
    or None. Same rules as ``tests/oracle_harness.compare``: column names,
    row count, then column-sorted, row-sorted, float-tolerant values."""
    if want is None:
        return None if not rows else f"DDL returned {len(rows)} rows"
    want_cols, want_rows = want
    cols = [c.lower() for c in cols]
    if sorted(cols) != sorted(want_cols):
        return f"columns differ: {cols} vs {want_cols}"
    if len(rows) != len(want_rows):
        return f"row count differs: {len(rows)} vs {len(want_rows)}"
    got = sorted((tuple(_norm(r[cols.index(c)]) for c in sorted(cols)) for r in rows), key=_sort_key)
    exp = sorted(
        (tuple(_norm(r[want_cols.index(c)]) for c in sorted(want_cols)) for r in want_rows),
        key=_sort_key,
    )
    for i, (g, e) in enumerate(zip(got, exp)):
        if not _values_close(g, e, rtol):
            return f"row {i} differs: {g} vs {e}"
    return None
