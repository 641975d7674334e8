"""Replay the rewrite layer's golden corpus (tests/frontend_corpus.py):
every record must produce the same text, or the same error class, as
when it was blessed. Regenerate with tools/bless_frontend_rewrite.py."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests import frontend_corpus as fc  # noqa: E402

RECORDS = fc.load()


def _check(records, replay):
    diffs = [d for rec in records if (d := fc.mismatch(rec, replay(rec)))]
    assert not diffs, f"{len(diffs)} of {len(records)} records differ:\n" + "\n".join(diffs)


def test_corpus_covers_its_sources():
    pure = [r for r in RECORDS if not r.get("typed")]
    assert [(r["sql"], r["pfad"]) for r in pure] == [
        (r["sql"], r["pfad"]) for r in fc.pure_inputs()
    ], "corpus is stale: run tools/bless_frontend_rewrite.py"
    assert [r["sql"] for r in RECORDS if r.get("typed")] == list(fc.TYPED)


def test_pure_records_replay():
    _check(
        [r for r in RECORDS if not r.get("typed")],
        lambda r: fc.rewrite_pure(r["sql"], r["pfad"]),
    )


@pytest.fixture(scope="module")
def typed_ctx(spark):
    from arrow_datafusion_spark.context import SessionContext

    ctx = SessionContext(spark)
    fc.typed_catalog(ctx)
    yield ctx
    for name in ("fe_tz", "fe_ts", "fe_arr", "fe_num"):
        ctx.deregister_table(name)


def test_typed_records_replay(typed_ctx):
    _check(
        [r for r in RECORDS if r.get("typed")],
        lambda r: fc.rewrite_typed(typed_ctx, r["sql"]),
    )


def test_every_pass_fires(typed_ctx):
    # each typed and stateless pass changes the text or the literal table
    # of at least one record, so a pass the corpus cannot reach is seen
    assert fc.unfired(typed_ctx, RECORDS) == []


def test_triggers_are_exact(typed_ctx):
    # a trigger matches every text its pass would change: with every
    # trigger matching everything, every record replays the same
    import re

    always = re.compile("")
    with fc.passes_edited(lambda p: p._replace(trigger=always)):
        test_pure_records_replay()
        test_typed_records_replay(typed_ctx)


def test_passes_are_named_once_and_cite_slt_lines():
    import re

    from arrow_datafusion_spark.context import LITERAL_PASSES, PASSES

    passes = LITERAL_PASSES + PASSES
    names = [p.name for p in passes]
    assert len(names) == len(set(names))
    cites = [c for p in passes for c in p.cites]
    assert cites and all(re.fullmatch(r"\w+\.slt:\d+", c) for c in cites), cites


def test_every_sql_macro_is_reachable():
    # a pass that lowers every call of a macro's name shadows the macro:
    # each registered name must survive the passes in a one-call statement
    import re

    from arrow_datafusion_spark.context import _SQL_MACROS
    from arrow_datafusion_spark.sql.lex import lex
    from arrow_datafusion_spark.sql.rewrite import _rewrite_sql

    for ddl in _SQL_MACROS:
        m = re.search(r"FUNCTION (\w+)\((.*?)\) RETURNS", ddl)
        name, params = m.group(1), re.findall(r"(\w+) [A-Z]", m.group(2))
        out = _rewrite_sql(lex(f"SELECT {name}({', '.join(params)}) FROM t"))
        assert re.search(rf"\b{name}\(", out), (name, out)


# fast/full tier (tests/conftest.py): reduced derandomized prefix by default
_FULL = bool(os.environ.get("SPARK_GRAFT_FULL_TESTS"))


def _ex(full_count: int) -> int:
    return full_count if _FULL else max(full_count // 6, 10)


def _piece():
    """(text, text after lexing and restoring the written literals): the
    lexer drops a line comment (its newline stays) and turns a block
    comment into one space."""
    from hypothesis import strategies as st

    word = st.text("abcXYZ019_ ,.()=<>+\n\t", min_size=1, max_size=8)
    inner = st.text("ab c'\"`-/*+\n\\", max_size=8)
    return st.one_of(
        word.map(lambda w: (w, w)),
        inner.map(lambda t: "'" + t.replace("'", "''") + "'").map(lambda t: (t, t)),
        inner.map(lambda t: '"' + t.replace('"', '""') + '"').map(lambda t: (t, t)),
        inner.map(lambda t: "`" + t.replace("`", "``") + "`").map(lambda t: (t, t)),
        inner.map(lambda t: ("--" + t.replace("\n", " ") + "\n", "\n")),
        inner.filter(lambda t: "*/" not in t and not t.startswith("+"))
        .map(lambda t: ("/*" + t + "*/", " ")),
        st.text("ab (1)", max_size=6).map(lambda t: ("/*+ " + t + " */",) * 2),
    )


def test_lex_round_trips_all_but_comments():
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from arrow_datafusion_spark.sql.lex import lex

    @settings(
        max_examples=_ex(600),
        derandomize=True,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(_piece(), max_size=12))
    def check(pieces):
        sql = "".join(p[0] for p in pieces)
        assert lex(sql).written() == "".join(p[1] for p in pieces), sql

    check()


def test_literals_are_spelled_for_spark():
    from arrow_datafusion_spark.sql.lex import lex, quote

    lx = lex(r"SELECT 'a\b''c', x FROM t WHERE y = '\'")
    assert lx.unshield() == r"SELECT 'a\\b''c', x FROM t WHERE y = '\\'"
    assert lx.written() == r"SELECT 'a\b''c', x FROM t WHERE y = '\'"
    tok = lx.text.split(",")[0].removeprefix("SELECT ")
    assert lx.string(tok) == "a\\b'c"
    assert lx.values(tok) == ["a\\b'c"]
    assert quote("a\\b'c") == lx.literal(tok) == r"'a\\b''c'"


def test_between_bounds_with_long_numbers_fail_fast():
    import time

    # a bound the fold cannot read, after a long number: each digit run
    # and each run of blanks is matched one way only, so the search fails
    # at once instead of trying every way to split the run
    digits = "1" * 40
    for q, out in (
        (f"SELECT * FROM t WHERE id BETWEEN {digits} AND hi", None),
        (f"SELECT * FROM t WHERE x BETWEEN 1{' ' * 2000}AND hi", None),
        (
            f"SELECT * FROM t WHERE x BETWEEN 0.{digits} AND hi",
            f"SELECT * FROM t WHERE x BETWEEN CAST(0.{digits} AS DOUBLE) AND hi",
        ),
    ):
        start = time.perf_counter()
        assert fc.rewrite_pure(q, False) == {"out": out or q}
        assert time.perf_counter() - start < 1.0


def test_nesting_primitives():
    from arrow_datafusion_spark.sql.lex import (
        close,
        enclosing,
        split,
        sub,
        top_level,
        unquoted,
    )

    q = 'f(a[1], (b), "c)d", `e(,``)`)[g(2)]'
    assert close(q, 1) == q.index(")[")
    assert close(q, 3) == 5  # a bracket closes a bracket
    assert close(q, q.index("[g")) == len(q) - 1
    assert enclosing(q, q.index("a")) == 1
    assert enclosing(q, q.index("b")) == q.index("(b")
    assert enclosing(q, q.index("c)d")) == 1  # inside an identifier: f's paren
    assert enclosing(q, q.index("g")) == q.index("[g")
    assert enclosing(q, 0) is None
    assert enclosing(q, len(q)) is None
    # at any other character, close finds the end of the group it is in
    assert close(q, q.index("a")) == q.index(")[")
    assert close(q, q.index("(b") - 2) == q.index(")[")
    assert close(q, q.index("g")) == len(q) - 1
    assert close(q, 0) is None
    assert split(q[2 : close(q, 1)]) == ["a[1]", " (b)", ' "c)d"', " `e(,``)`"]
    assert split('"a"",b", c') == ['"a"",b"', " c"]
    assert split("") == [""]
    colon = r"(?<!:):(?!:)"  # a slice's colon, not a ``::`` cast
    assert [m.start() for m in top_level("1:2::int", colon)] == [1]
    assert list(top_level("x[1:2]::int", colon)) == []
    # unbalanced input
    assert close("f((a)", 1) is None
    assert close('f("(")', 1) == 5
    assert close('f("a)"', 1) is None
    assert close('f(")', 1) == 3  # an unclosed quote is no identifier
    # top_level: depth 0 of text[start:end], case-insensitive
    text = "a FROM (b FROM t) u FROM v from w"
    assert [m.start() for m in top_level(text, r"\bFROM\b")] == [2, 20, 27]
    assert [m.start() for m in top_level(text, r"\bFROM\b", 8, 16)] == [10]
    assert [m.start() for m in top_level(text, r"\bFROM\b", 0, 12)] == [2]
    assert [m.start() for m in top_level(text, r"\bFROM\b", 21)] == [27]
    assert list(top_level('x "from" `from`', r"\bFROM\b")) == []
    m = next(top_level("a ORDER  BY b", r"ORDER\s+(BY)"))
    assert m.group(1) == "BY"  # the pattern keeps its own groups
    # unquoted and sub: any depth, quoted identifiers skipped
    q = 'f(a[1]) "a[2]" `b[3]`[4]'
    assert [m.start() for m in unquoted(q, r"\[")] == [3, q.index("[4")]
    assert sub(q, r"\[(\d)\]", lambda m: f"<{m[1]}>") == 'f(a<1>) "a[2]" `b[3]`<4>'

