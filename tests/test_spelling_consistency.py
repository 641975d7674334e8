"""Equivalent-spelling consistency battery (round-12 discipline).

The round-11 review found the engine returning DIFFERENT results for two
spellings of the same expression (`TIMESTAMP '...'::bigint` vs the
column-operand chain) — worse than a documented policy divergence,
because no policy explains the gap. This module pins the generalized
audit: for each rewrite-backed feature, equivalent spellings one token
apart must produce the SAME dtype and the SAME values.

Round-12 closures proven here and in test_api/test_type_policy:
- `::timestamp::bigint` runtime typing (integral source = identity);
- integer-CAST operands joining the truncating division;
- the CAST spellings of the INT→DATE days reinterpret.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_VIEW = """
SELECT CAST(v AS BIGINT) i, CAST(v AS DOUBLE) f,
       CAST(v AS DECIMAL(10,2)) d,
       CAST(ts AS TIMESTAMP) t, CAST(ts AS DATE) dt, s
FROM VALUES (7, '2020-06-15 12:30:45', 'hello world'),
            (3, '2021-03-01 06:00:00', 'spark') t(v, ts, s)
"""

# (label, spelling A, spelling B) — A and B must agree exactly
_PAIRS = [
    # timestamp↔integer reinterpret chain vs CAST spelling, per source type
    ("ts_chain_int_source",
     "SELECT i::timestamp::bigint AS v FROM sp ORDER BY i",
     "SELECT CAST(CAST(i AS TIMESTAMP) AS BIGINT) AS v FROM sp ORDER BY i"),
    ("ts_chain_ts_source",
     "SELECT t::timestamp::bigint AS v FROM sp ORDER BY i",
     "SELECT CAST(CAST(t AS TIMESTAMP) AS BIGINT) AS v FROM sp ORDER BY i"),
    # r13: the BARE (hop-less) spelling must agree with the chain — a
    # redundant ::timestamp hop cannot change the answer ×10⁹ (r12
    # verdict What's-wrong #1; unit policy = ns, documented at
    # sql/typed.py ts_bigint_bare)
    ("ts_bare_cast_eq_chain",
     "SELECT CAST(t AS BIGINT) AS v FROM sp ORDER BY i",
     "SELECT CAST(CAST(t AS TIMESTAMP) AS BIGINT) AS v FROM sp ORDER BY i"),
    ("ts_bare_colon_eq_chain",
     "SELECT t::bigint AS v FROM sp ORDER BY i",
     "SELECT t::timestamp::bigint AS v FROM sp ORDER BY i"),
    # r13: DATE-source chain spellings (the r12 advice regression — the
    # runtime-typed CASE must stay analysis-valid for DATE operands)
    ("ts_chain_date_source",
     "SELECT dt::timestamp::bigint AS v FROM sp ORDER BY i",
     "SELECT CAST(CAST(dt AS TIMESTAMP) AS BIGINT) AS v FROM sp ORDER BY i"),
    # r13: bare integer cast stays the identity (the ts rewrite must not
    # touch non-timestamp operands)
    ("int_bare_cast_identity",
     "SELECT CAST(i AS BIGINT) AS v FROM sp ORDER BY i",
     "SELECT i AS v FROM sp ORDER BY i"),
    # truncating integer division across operand spellings
    ("int_div_cast_operand",
     "SELECT i / 2 AS v FROM sp ORDER BY i",
     "SELECT CAST(i AS BIGINT) / CAST(2 AS INT) AS v FROM sp ORDER BY i"),
    # INT→DATE days reinterpret across cast spellings
    ("int_date_cast_spellings",
     "SELECT (i*2600)::INT::DATE AS v FROM sp ORDER BY i",
     "SELECT CAST(CAST(i*2600 AS INT) AS DATE) AS v FROM sp ORDER BY i"),
    # parenthesized single-column operands join both division lowerings
    ("decimal_div_paren",
     "SELECT d / d AS v FROM sp ORDER BY i",
     "SELECT (d) / (d) AS v FROM sp ORDER BY i"),
    ("int_div_paren",
     "SELECT i / i AS v FROM sp ORDER BY i",
     "SELECT (i) / (i) AS v FROM sp ORDER BY i"),
    # r13: FROM-less paren-literal division joins the truncating fold
    # (r12 verdict What's-wrong #2 — `(7)/(2)` must equal `7/2`)
    ("int_div_paren_literal_fromless",
     "SELECT (7)/(2) AS v",
     "SELECT 7/2 AS v"),
    ("int_div_paren_literal_mixed",
     "SELECT 7/(2) AS v",
     "SELECT (7)/2 AS v"),
    # r13: inline-VALUES FROMs type through typed._inline_values — the
    # same division/median lowerings as a catalog-backed relation
    ("int_div_inline_values",
     "SELECT x/2 AS v FROM (VALUES (7), (3)) AS tv(x) ORDER BY x",
     "SELECT i/2 AS v FROM sp ORDER BY i"),
    ("median_inline_values",
     "SELECT median(x) AS v FROM (VALUES (7), (3)) AS tv(x)",
     "SELECT median(i) AS v FROM sp"),
    # median input typing: column vs trivially-equal expression route
    ("median_trivial_expr",
     "SELECT median(i) AS v FROM sp",
     "SELECT approx_median(i) AS v FROM sp"),
    # function-call families (reference semantics shared across aliases)
    ("epoch_extract",
     "SELECT extract(epoch FROM t) AS v FROM sp ORDER BY i",
     "SELECT date_part('epoch', t) AS v FROM sp ORDER BY i"),
    ("position_strpos",
     "SELECT position('o' IN s) AS v FROM sp ORDER BY i",
     "SELECT strpos(s, 'o') AS v FROM sp ORDER BY i"),
    ("substring_substr",
     "SELECT substring(s FROM 2 FOR 3) AS v FROM sp ORDER BY i",
     "SELECT substr(s, 2, 3) AS v FROM sp ORDER BY i"),
    ("trim_btrim",
     "SELECT trim(BOTH 'h' FROM s) AS v FROM sp ORDER BY i",
     "SELECT btrim(s, 'h') AS v FROM sp ORDER BY i"),
    ("tilde_regexp_like",
     "SELECT s ~ 'o' AS v FROM sp ORDER BY i",
     "SELECT regexp_like(s, 'o') AS v FROM sp ORDER BY i"),
    ("arrow_cast_float32",
     "SELECT arrow_cast(f, 'Float32') AS v FROM sp ORDER BY i",
     "SELECT CAST(f AS FLOAT) AS v FROM sp ORDER BY i"),
    ("arrow_cast_utf8",
     "SELECT arrow_cast(s, 'Utf8') AS v FROM sp ORDER BY i",
     "SELECT s::varchar AS v FROM sp ORDER BY i"),
    # the reference's log() is log10 (Postgres), on every spelling
    ("log_is_log10",
     "SELECT log(100.0) AS v",
     "SELECT log10(100.0) AS v"),
    ("date_bin_stride_spellings",
     "SELECT date_bin(INTERVAL '1 hour', t) AS v FROM sp ORDER BY i",
     "SELECT date_bin('1 hour', t) AS v FROM sp ORDER BY i"),
]


@pytest.fixture(scope="module")
def ctx(spark):
    from arrow_datafusion_spark.context import SessionContext

    spark.sql(_VIEW).createOrReplaceTempView("sp")
    yield SessionContext(spark)
    spark.catalog.dropTempView("sp")


@pytest.mark.parametrize(
    "label,a,b", _PAIRS, ids=[p[0] for p in _PAIRS]
)
def test_equivalent_spellings_agree(ctx, label, a, b):
    da, db = ctx.sql(a), ctx.sql(b)
    ta = tuple(f.dataType.simpleString() for f in da.schema)
    tb = tuple(f.dataType.simpleString() for f in db.schema)
    assert ta == tb, f"{label}: dtype {ta} != {tb}"
    va = [tuple(r) for r in da.collect()]
    vb = [tuple(r) for r in db.collect()]
    assert va == vb, f"{label}: {va} != {vb}"
