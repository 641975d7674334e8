"""Oracle-compare every non-TPC-H driver entry (the TPC-H pack has its own
test module). Parametrized over the __spark_entry__ registries so a new
queries()/oracle_sql() entry is tested automatically."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_harness import compare, duckdb_con  # noqa: E402

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()
_NAMES = sorted(n for n in _QUERIES if not n.startswith("tpch_"))

# Fast/full tier (tests/conftest.py): the four slowest oracle compares —
# the streaming micro-batch joins (20-43 s each: ProcessingTime trigger
# waits, not engine compute) and the 200-step recursive series (25 s) —
# carry the `slow` mark so the driver's time-budgeted default run
# completes; every other entry stays in the default tier.
_SLOW_ENTRIES = {
    "stream_join_outer",
    "stream_join_clicks_views",
    "stream_join_outer_full",
    "sql_recursive_series",
}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_ENTRIES else n
        for n in _NAMES
    ],
)
def test_entry_matches_oracle(name, spark, sf_dir, con):
    df = _QUERIES[name](spark, sf_dir)
    if name in _ORACLES:
        compare(df, con, _ORACLES[name])
    else:  # rows-only entries (non-SQL-expressible ops)
        assert df.count() >= 0


def test_source_entries_leave_no_scratch_behind(tmp_path):
    # the source entries' scratch files (queries/sources.py) live under one
    # per-process root that goes at interpreter exit; sql_ddl_insert's
    # fresh CTAS location is inside it. No Spark: the context is stubbed.
    import json
    import subprocess

    code = (
        "import json, os\n"
        "from arrow_datafusion_spark.queries import sources as s\n"
        "texts = []\n"
        "class Ctx:\n"
        "    def __init__(self, spark): pass\n"
        "    def sql(self, text): texts.append(text)\n"
        "s.SessionContext, s.load_tables = Ctx, lambda *a, **k: {}\n"
        "s.sql_ddl_insert(None, '')\n"
        "with open(s._tmp('probe'), 'w') as f: f.write('x')\n"
        "print(json.dumps({'root': os.path.dirname(s._tmp('probe')), 'texts': texts}))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, env=env,
        capture_output=True, text=True, check=True, timeout=120,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert os.path.dirname(got["root"]) == str(tmp_path)
    assert any(f"LOCATION '{got['root']}/nation-summary-" in t for t in got["texts"])
    assert not os.path.exists(got["root"])
    assert os.listdir(tmp_path) == []
