"""Golden corpus for the SQL front end's rewrite layer.

``tests/golden/frontend_rewrite.jsonl`` holds one JSON record per
statement: the input SQL and either the exact text the rewrite layer
produces or the class of the error it raises. Two kinds of record:

- *pure* records replay ``lex`` → the stateless passes
  (``sql/rewrite.py`` ``REWRITE_PASSES``, via ``_rewrite_sql``, which
  unshields on return) with no Spark session. Their sources are every
  ``SELECT``/``WITH`` string constant in ``tests/test_*.py`` and
  ``arrow_datafusion_spark/queries/*.py`` and the hand-written ``EXTRA``
  statements below, which reach every call rewrite; a statement that
  carries ``arrow_typeof`` is also replayed under
  ``parse_float_as_decimal``.
- *typed* records replay ``SessionContext._spark_sql`` over the small
  catalog built by ``typed_catalog``: the schema-reading passes run
  against live table schemas, and ``spark.sql`` is stubbed so the text it
  would receive is captured instead of planned.

``tools/bless_frontend_rewrite.py`` regenerates the file. ``unfired``
names the passes no record reaches.
"""

from __future__ import annotations

import ast
import contextlib
import difflib
import glob
import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tests", "golden", "frontend_rewrite.jsonl")

# Statements that reach each call rewrite of the stateless layer, one
# function (or one composition of two) per line.
EXTRA = (
    "SELECT regexp_replace(s, 'a', 'b', 'g'), regexp_replace(s, 'a', 'b') FROM t",
    "SELECT regexp_replace(s, 'a(b)', '\\1', 'g') FROM t",
    "SELECT regexp_match(s, 'a+'), regexp_match(s, 'a+', 'i') FROM t",
    "SELECT digest(s, 'sha256'), digest(s, 'md5'), digest(s, 'blake3'), digest(s, 'x') FROM t",
    "SELECT sha224(s), sha256(s), sha384(s), sha512(s), to_hex(i) FROM t",
    "SELECT array_position(a, 1), list_position(a, 1, 2), list_indexof(a, 3) FROM t",
    "SELECT array_indexof(a, 1), array_position(list_position(a, 1), 2) FROM t",
    "SELECT array_has(a, 1), list_contains(a, NULL), list_has(a, 2) FROM t",
    "SELECT array_cat(a, b), list_concat(a, b, c), array_concat(a) FROM t",
    "SELECT concat(s, 'x'), concat(array_cat(a, b), list_cat(c, a)) FROM t",
    "SELECT chr(i), chr(NULL) FROM t",
    "SELECT extract(dow FROM d), extract(epoch FROM ts), extract(second FROM ts) FROM t",
    "SELECT extract(millisecond FROM ts), extract(nanosecond FROM TIMESTAMP '2020-01-01 00:00:01.123456789') FROM t",
    "SELECT encode(s, 'base64'), encode(s, 'hex'), decode(s, 'base64'), decode(s, 'hex'), encode(s, 'utf8') FROM t",
    "SELECT overlay(s PLACING 'abc' FROM 2 FOR 3), overlay(s, 'x', 2), overlay(s PLACING 'q' FROM 4) FROM t",
    "SELECT date_part('dow', d), date_part('epoch', ts), date_part('millisecond', ts), date_part('second', ts) FROM t",
    "SELECT date_part('nanosecond', TIMESTAMP '2020-01-01 00:00:01.5'), date_part('year', d) FROM t",
    "SELECT date_bin(INTERVAL '1 hour', ts), date_bin('2 months', ts, TIMESTAMP '2020-01-01') FROM t",
    "SELECT date_bin(INTERVAL '15 minutes', TIMESTAMPTZ '2020-01-01 00:07:00+01:00', TIMESTAMP '2020-01-01') FROM t",
    "SELECT date_bin(INTERVAL '1 year', ts, TIMESTAMP '2000-01-01'), date_bin(INTERVAL '-1 month', ts, TIMESTAMP '2000-01-31') FROM t",
    "SELECT left(s, -2), right(s, 3), left(s, i), right(left(s, 4), -1) FROM t",
    "SELECT substr(s, -1), substring(s, 0, 3), substr(s, 2), substring(s, -2, 5) FROM t",
    "SELECT ltrim(s, 'x'), rtrim(s, 'y'), trim(s, 'z'), trim(s), btrim(s, 'q') FROM t",
    "SELECT corr(x, y), corr(DISTINCT x, y), corr(x, y) OVER (PARTITION BY g) FROM t",
    "SELECT approx_distinct(x), approx_distinct(DISTINCT x) FROM t",
    "SELECT to_timestamp_seconds(i), to_timestamp_millis(s), to_timestamp_micros(i), to_timestamp_nanos(i) FROM t",
    "SELECT ln(x), log2(x), log10(x), log(x), log(2, x), log(x, y, z) FROM t",
    "SELECT nanvl(x, y), signum(x), nanvl(x) FROM t",
    "SELECT struct(a, b), struct(a AS f), struct(*), row(1, 2) FROM t",
    "SELECT array_agg(x), array_agg(DISTINCT x), array_agg(x) OVER (ORDER BY y), array_agg(*) FROM t",
    "SELECT array_agg(x ORDER BY y DESC), first_value(x ORDER BY y), last_value(x ORDER BY y NULLS FIRST) FROM t",
    "SELECT nth_value(x, 2 ORDER BY y, z DESC), first_value(x) OVER (ORDER BY y) FROM t",
    "SELECT array_intersect(a, b), list_intersect(a, b), array_intersect(a) FROM t",
    "SELECT array_append(a, 1), list_append(a, 2), array_push_back(a, 3) FROM t",
    "SELECT array_remove(a, 1), array_remove_all(a, 2), list_remove(a, 3) FROM t",
    "SELECT array_remove(array_remove_all(a, 1), 2), array_remove_all(array_remove(a, 1), 2) FROM t",
    "SELECT cardinality(a), cardinality(a, b) FROM t",
    "SELECT array_element(a, 1), list_extract(a, 2), array_slice(a, 1, 2), list_slice(a, 2, 3) FROM t",
    "SELECT array_pop_back(a), array_pop_front(a), range(5), range(1, 5), range(1, 10, 2) FROM t",
    "SELECT generate_series(1, 3), generate_series(1, 9, 3), array_has_all(a, b), array_has_any(a, b) FROM t",
    "SELECT array_resize(a, 3), array_resize(a, 3, 0), array_positions(a, 1), array_replace(a, 1, 2) FROM t",
    "SELECT array_replace_n(a, 1, 2, 3), array_replace_all(a, 1, 2), array_remove_n(a, 1, 2) FROM t",
    "SELECT array_dims(a), array_ndims(a), array_length(a), array_length(a, 2), array_empty(a), empty(a) FROM t",
    "SELECT array_reverse(a), array_distinct(a), array_except(a, b), list_except(a, b) FROM t",
    "SELECT array_to_string(a, ','), array_join(a, '-'), list_to_string(a, ',', 'N'), list_join(a, '|') FROM t",
    "SELECT array_has_all(array_except(a, b), c), array_to_string(array_distinct(a), ',') FROM t",
    "SELECT array_element(make_array(1, 2), 1), array_length(range(3)) FROM t",
    "SELECT arrow_cast(x, 'Int64'), arrow_cast(s, 'Utf8'), arrow_typeof(x), arrow_typeof(1) FROM t",
    "SELECT arrow_cast('2020-01-01 00:00:00', 'Timestamp(Second, Some(\"+01:00\"))') FROM t",
    "SELECT arrow_cast(x, 'Timestamp(Millisecond, None)'), arrow_cast(1, 'Date32'), arrow_cast(x, 'Time32(Second)') FROM t",
    "SELECT arrow_typeof(arrow_cast(x, 'Int32')), isnan(x), isnan(NULL) FROM t",
    "SELECT arrow_typeof(18446744073709551616), arrow_typeof(9223372036854775808), arrow_typeof(-5)",
    "SELECT unnest(a) FROM t",
    "SELECT x FROM unnest(make_array(1, 2)) JOIN unnest(struct(1, 2)) ON true",
    "SELECT row_number() OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), rank() OVER (PARTITION BY y) FROM t",
    "SELECT lag(x) OVER (ORDER BY y RANGE UNBOUNDED PRECEDING), lead(x) IGNORE NULLS OVER (PARTITION BY y) FROM t",
    "SELECT sum(x) OVER (ORDER BY y ROWS CURRENT ROW), sum(x) OVER (ORDER BY y RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) FROM t",
    "SELECT x FROM t ORDER BY x, y DESC, z NULLS FIRST LIMIT 3",
    "SELECT x, y FROM (VALUES (1, 'a'), (2, 'b')) WHERE x IN ((SELECT 1))",
    "SELECT x ~ 'a.*', x !~* 'B', x ~* 'c', x !~ 'd' FROM t",
    "SELECT INTERVAL '5' years, INTERVAL '1 day 1', INTERVAL '0.5 minute' FROM t",
    "SELECT x::int[], CAST(y AS text), z::varchar, 7 / 2, (7) / (2), d ^ 7 >> 4 FROM t",
    "SELECT ts::timestamp::bigint / 1000, TIMESTAMP '2020-01-01'::bigint, x::INT::DATE FROM t",
    "SELECT var(x), covar(x, y), mean(x), var_population(x) FROM t",
    "SELECT [1, 2, 3], array[4, 5], a[1], a[2:3], struct(1, 2)['c0'] FROM t",
    "SELECT today(), starts_with(s, 'a'), make_list(1, 2), string_to_list(s, ',') FROM t",
    "SELECT a FROM t RIGHT SEMI JOIN u ON t.k = u.k",
    "SELECT count(*) AS 'n rows' FROM t",
    # cross-step compositions: one function's call nested in another's
    "SELECT chr(ascii(to_hex(i))), signum(nanvl(x, ln(y))) FROM t",
    "SELECT left(substr(s, -1), -1), ltrim(right(s, 2), 'a') FROM t",
    "SELECT array_append(array_remove(a, 1), cardinality(b)), struct(array_agg(x)) FROM t",
    "SELECT regexp_replace(regexp_match(s, 'a'), 'b', 'c', 'g'), digest(to_hex(i), 'md5') FROM t",
    "SELECT date_part('dow', date_bin(INTERVAL '1 day', ts)), extract(epoch FROM to_timestamp_millis(i)) FROM t",
    # a call of a function nested in a call of the same function
    "SELECT regexp_replace(regexp_replace('aaa', 'a', 'b'), 'a', 'c')",
    "SELECT array_append(array_append(CAST(NULL AS INT[]), 1), 2)",
    "SELECT array_remove(array_remove(make_array(1, 2, 1, 2), 1), 2)",
    "SELECT chr(chr(i)), to_hex(to_hex(i)), signum(signum(x)), struct(struct(a, b), c) FROM t",
    "SELECT left(left(s, 4), -1), substr(substr(s, -1), 0), ltrim(ltrim(s, 'a'), 'b') FROM t",
    "SELECT arrow_cast(arrow_cast(x, 'Int64'), 'Timestamp(Second, None)'), isnan(isnan(x)) FROM t",
    "SELECT array_has_all(array_has_all(a, b), c), cardinality(cardinality(a)) FROM t",
    "SELECT range(range(3)), array_distinct(array_distinct(a)) FROM t",
    "SELECT date_bin(INTERVAL '1 day', date_bin(INTERVAL '1 hour', ts)) FROM t",
    # every regex of the multi-regex passes, and the passes no source reaches
    "SELECT CAST(CAST(x AS INT) AS DATE), CAST(x::INT AS DATE), CAST(x AS INT)::DATE FROM t",
    "SELECT CAST(TIMESTAMP '2020-01-01 00:00:00' AS BIGINT), CAST('2020-01-01'::timestamp AS BIGINT) FROM t",
    "SELECT CAST(CAST(i AS TIMESTAMP) AS BIGINT), TIMESTAMP '2020-01-01'::timestamp::bigint / 10 FROM t",
    "SELECT TIME '12:00:00.123456789', TIME '01:02:03.5', CAST(s AS TIMESTAMP WITH TIME ZONE) FROM t",
    "SELECT CAST(a AS int4[]), b::bool, CAST(c AS varchar), -2 ^ 2 << 1, 1 >> d ^ 2 FROM t",
    "SELECT CAST(x AS INT UNSIGNED), y::bigint unsigned, CAST(s AS VARCHAR(10)), s::char(3), CAST(s AS CHAR) FROM t",
    "SELECT TIMESTAMP WITH TIME ZONE '2020-01-01 00:00:00', CAST(a AS text[][]) FROM t",
    # a bracket or comma inside a quoted identifier nests and splits nothing
    'SELECT x FROM t ORDER BY "c)d", x',
    'SELECT x FROM t ORDER BY "c(d", x',
    'SELECT array_length("a,b") FROM t',
    'SELECT * FROM (VALUES (1, "a,b"))',
    # ``AS <type>)`` is a cast target only inside CAST or TRY_CAST
    "SELECT text FROM (SELECT 1 AS text)",
    "SELECT CAST(a AS text), TRY_CAST(b AS int8), CAST((c) AS text) FROM t",
    # TIMESTAMP WITH TIME ZONE is a type in any position, parens or none
    "SELECT TIMESTAMP WITH TIME ZONE '2020-01-01 00:00:00'",
    "SELECT TIMESTAMP WITH TIME ZONE '2020-01-01 00:00:00', f(x) FROM t",
)

# Type-aware statements over the typed_catalog relations, one or more
# per entry of sql/typed.py TYPED_PASSES.
TYPED = (
    # typed.tz_date_trunc
    "SELECT date_trunc('day', ts), date_trunc('hour', ts) FROM fe_tz",
    # typed.median
    "SELECT median(i), median(DISTINCT i), median(d), median(f) FROM fe_num",
    "SELECT median(i) OVER (PARTITION BY j) FROM fe_num",
    # typed.decimal_avg
    "SELECT avg(d), avg(i), avg(d) OVER () FROM fe_num",
    # typed.decimal_division
    "SELECT d / d2, d / CAST(i AS DECIMAL(10,2)), (d) / d2, i / d FROM fe_num",
    "SELECT w / d2 FROM fe_num",
    # typed.deep_array_fns
    "SELECT array_to_string(n2, ','), list_join(n3, '-'), flatten(n3), flatten(a1) FROM fe_arr",
    "SELECT cardinality(n2), cardinality(a1), array_dims(n3), array_length(n2, 2) FROM fe_arr",
    "SELECT array_to_string(make_array(make_array(1, 2), make_array(3)), ',') FROM fe_arr",
    "SELECT flatten(flatten(n3)) FROM fe_arr",
    "SELECT flatten(flatten(n2)) FROM fe_arr",
    "SELECT flatten(flatten(a1)) FROM fe_arr",
    # typed.ts_bigint_bare
    "SELECT ts::bigint, CAST(ts AS BIGINT) / 1000, ts::timestamp::bigint FROM fe_ts",
    # typed.int_division
    "SELECT i / j, i / 2, (i) / (j), CAST(f AS INT) / j, f / j FROM fe_num",
    # typed.f32_math
    "SELECT round(f, 2), round(f), sqrt(f), round(abs(round(f, 2))), round(d, 1) FROM fe_num",
    # typed.approx_percentile
    "SELECT approx_median(i), approx_percentile_cont(f, 0.9), approx_percentile_cont(i, 0.5, 50) FROM fe_num",
    "SELECT approx_percentile_cont_with_weight(i, j, 0.5), approx_median(i) OVER (PARTITION BY j) FROM fe_num",
    "SELECT approx_percentile_cont(i, 0.5) FILTER (WHERE j > 0) OVER (PARTITION BY j) FROM fe_num",
    # several passes in one statement
    "SELECT median(i), avg(d), i / j, round(f, 1) FROM fe_num n JOIN fe_ts t ON n.i = t.k",
)


def source_statements() -> list[tuple[str, str]]:
    """(file, text) for each distinct ``SELECT``/``WITH`` string constant
    (not an f-string part) in the test and query modules."""
    seen: dict[str, str] = {}
    paths = sorted(
        glob.glob(os.path.join(ROOT, "tests", "test_*.py"))
        + glob.glob(os.path.join(ROOT, "arrow_datafusion_spark", "queries", "*.py"))
    )
    for path in paths:
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        in_fstring = {
            id(v) for node in ast.walk(tree) if isinstance(node, ast.JoinedStr)
            for v in node.values
        }
        rel = os.path.relpath(path, ROOT)
        consts = sorted(
            (node.lineno, node.value) for node in ast.walk(tree)
            if isinstance(node, ast.Constant) and isinstance(node.value, str)
            and id(node) not in in_fstring
            and re.match(r"(SELECT|WITH)\s", node.value.lstrip(), re.IGNORECASE)
        )
        for _lineno, text in consts:
            seen.setdefault(text, rel)
    return [(src, text) for text, src in seen.items()]


def pure_inputs() -> list[dict]:
    return [
        {"src": src, "sql": text, "pfad": pfad}
        for src, text in source_statements() + [("extra", t) for t in EXTRA]
        for pfad in ((False, True) if "arrow_typeof" in text else (False,))
    ]


def rewrite_pure(sql: str, pfad: bool) -> dict:
    """``lex`` → the stateless passes (unshielded) or the error class."""
    from arrow_datafusion_spark.sql.rewrite import _rewrite_sql
    from arrow_datafusion_spark.sql.lex import lex

    try:
        return {"out": _rewrite_sql(lex(sql), pfad=pfad)}
    except Exception as e:  # the error class is the golden value
        return {"error": type(e).__name__}


def typed_catalog(ctx) -> None:
    """Register the relations the TYPED statements read. They hold no rows
    (the passes read only schemas), so building them compiles no code."""
    for name, schema in (
        ("fe_num", "i INT, j BIGINT, d DECIMAL(10,2), d2 DECIMAL(12,3), "
                   "w DECIMAL(30,10), f FLOAT"),
        ("fe_arr", "a1 ARRAY<INT>, n2 ARRAY<ARRAY<INT>>, n3 ARRAY<ARRAY<ARRAY<INT>>>"),
        ("fe_ts", "k INT, ts TIMESTAMP"),
    ):
        ctx.register_table(name, ctx.spark.createDataFrame([], schema))
    ctx.register_view(
        "fe_tz",
        "SELECT arrow_cast(ts, 'Timestamp(Nanosecond, Some(\"Europe/Berlin\"))') "
        "AS ts FROM fe_ts",
    )


def rewrite_typed(ctx, sql: str) -> dict:
    """The text ``SessionContext._spark_sql`` hands to ``spark.sql`` (or
    the error class), with ``spark.sql`` stubbed for the one call."""
    from arrow_datafusion_spark.sql.lex import lex

    spark = ctx.spark
    captured: list[str] = []
    spark.sql = lambda text, args=None, **kw: captured.append(text)
    try:
        ctx._spark_sql(lex(sql))
    except Exception as e:  # the error class is the golden value
        return {"error": type(e).__name__}
    finally:
        del spark.sql
    return {"out": captured[-1]}


@contextlib.contextmanager
def passes_edited(edit):
    """Run the front end with ``edit(pass)`` in place of every pass, in
    both the session's list and the stateless one."""
    from arrow_datafusion_spark import context
    from arrow_datafusion_spark.sql import rewrite

    saved = context.PASSES, rewrite.REWRITE_PASSES
    context.PASSES, rewrite.REWRITE_PASSES = (tuple(map(edit, ps)) for ps in saved)
    try:
        yield
    finally:
        context.PASSES, rewrite.REWRITE_PASSES = saved


def unfired(ctx, records: list[dict]) -> list[str]:
    """The passes that change neither the text nor the literal table of
    any of ``records`` (typed ones replay through ``ctx``), in run order."""
    from arrow_datafusion_spark import context

    fired: set[str] = set()

    def watched(p):
        def fn(q, lx, scope):
            lits = list(lx.lits)
            out = p.fn(q, lx, scope)
            if out != q or lx.lits != lits:
                fired.add(p.name)
            return out

        return p._replace(fn=fn)

    with passes_edited(watched):
        for rec in records:
            if rec.get("typed"):
                rewrite_typed(ctx, rec["sql"])
            else:
                rewrite_pure(rec["sql"], rec["pfad"])
    return [p.name for p in context.PASSES if p.name not in fired]


def load() -> list[dict]:
    with open(GOLDEN, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def mismatch(rec: dict, got: dict) -> str | None:
    """A per-record diff when ``got`` differs from the golden ``rec``."""
    want = {k: rec[k] for k in ("out", "error") if k in rec}
    if got == want:
        return None
    w = want.get("out", f"<error {want.get('error')}>")
    g = got.get("out", f"<error {got.get('error')}>")
    diff = "\n".join(difflib.unified_diff(
        w.splitlines(), g.splitlines(), "golden", "now", lineterm=""
    ))
    return f"--- record from {rec['src']} (pfad={rec.get('pfad')})\n{rec['sql']}\n{diff}"
