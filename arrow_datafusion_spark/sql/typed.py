"""The type-aware SQL rewrites: the passes that read the types of the
columns a statement names.

``TYPED_PASSES`` holds them as ``Pass`` records (sql/rewrite.py), and
``SessionContext._spark_sql`` runs them first, then the stateless
``REWRITE_PASSES``, in one ``run_passes`` loop under the same contract:
the order is fixed, and a pass runs only when its trigger matches the
current text, so a trigger must match every text its pass would change.
A pass reads types through ``scope.rel``, the statement's one
``Relations`` value. It resolves the statement's FROM/JOIN relations
against the catalog at most once, on first use, so a statement whose
passes type nothing looks nothing up. A pass whose operand does not
resolve (subquery FROMs, expressions, ambiguous columns) keeps Spark's
semantics: the documented §1.2 residual.
"""

from __future__ import annotations

import re

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from arrow_datafusion_spark.sql.lex import LIT, Lexed, close, quote, split
from arrow_datafusion_spark.sql.rewrite import (
    Pass,
    Scope,
    _lower_approx_percentile,
    rewrite_calls,
)

# A column token: a name, optionally table-qualified.
COL = r"(?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*"
_COLUMN = re.compile(rf"\(\s*({COL})\s*\)|({COL})")

# The largest summed source size (plan statistics) over which the exact
# median and the t-digest lowerings collect whole groups into one array
# row. Spark's single-row limit is 2 GiB, which arrives long before
# process memory does; above this the sources keep Spark's streaming
# aggregates.
EXACT_MAX_BYTES = 1 << 30

# relation-alias stopwords: a word here after `FROM t` is a clause
# keyword, not an alias
_ALIAS_STOP = frozenset(
    """where group order limit offset having union except intersect
    on using join inner left right full cross natural semi anti
    outer window qualify lateral values select when then else end
    set tablesample distribute sort cluster for fetch minus""".split()
)

# A name a CTE defines: `name AS (` or the column-list form
# `name(a, b) AS (`. Any such capture counts (conservative: it also
# matches UDTF column-alias forms, which do not resolve here anyway).
_CTE = re.compile(r"\b(\w+)(?:\s*\([^()]*\))?\s+AS\s*\(", re.IGNORECASE)


class Relations:
    """The relations one statement reads, resolved against the catalog
    once, on first use, from its pre-rewrite shielded text."""

    def __init__(self, spark, text: str):
        self._spark = spark
        self._text = text
        self._got: tuple | None = None

    def _get(self) -> tuple:
        if self._got is None:
            self._got = _resolve(self._spark, self._text)
        return self._got

    @property
    def schema(self) -> dict | None:
        """Lower-cased ``qualifier.col`` → DataType for every relation,
        plus bare ``col`` when exactly one relation carries it (the
        reference's unambiguity rule, so a self-join's shared columns
        type only through their qualifiers). None when typing bails: a
        FROM/JOIN source that is no catalog table or typed inline VALUES
        (subquery, table function, column-rename alias list), a name a
        CTE defines, or one qualifier used twice."""
        return self._get()[0]

    @property
    def tables(self) -> list[str]:
        """The catalog tables named after FROM or JOIN, once each, CTE
        names excluded, lower-cased; also when typing bails (a subquery's
        rows come from base tables the same statement names)."""
        return list(self._get()[1])

    def column_type(self, tok: str):
        """The DataType of a plain column token, optionally qualified or
        parenthesized; None for any other token or an unknown column."""
        m = _COLUMN.fullmatch(tok.strip())
        if m is None or self.schema is None:
            return None
        return self.schema.get((m.group(1) or m.group(2)).lower())

    def over_cap(self) -> bool:
        """Whether the sources' summed plan-statistics size exceeds
        EXACT_MAX_BYTES. Joins sum their sources (fan-out would need
        statistics Spark does not expose before execution). Catalyst's
        Long.MaxValue "size unknown" (in-memory relations) counts 0, and a
        failure to size counts as under the cap: the cap exists for
        file-backed tables whose byte size proves a whole-group collect
        cannot fit."""
        try:
            est = 0
            for df in self._get()[1].values():
                size = int(
                    df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
                if size < (1 << 63) - 1:
                    est += size
            return est > EXACT_MAX_BYTES
        except Exception:
            return False


def _resolve(spark, q: str) -> tuple[dict | None, dict]:
    """``(schema, frames)`` of shielded text ``q`` (see Relations): one
    walk over every FROM/JOIN clause at any nesting level, one catalog
    lookup per table named. ``frames`` maps each resolvable table's
    lower-cased name to its DataFrame."""
    ctes = {m.group(1).lower() for m in _CTE.finditer(q)}
    # (table or None, qualifier, inline fields or None); the fields are
    # set for a `(VALUES ...) AS t(cols)` derived table typed from its
    # literals
    rels: list[tuple[str | None, str, list | None]] = []
    typed = True
    for m in re.finditer(r"\b(FROM|JOIN)\b", q, re.IGNORECASE):
        pos = m.end()
        while True:
            vm = _inline_values(q, pos)
            if vm is not None:
                pos, alias, fields = vm
                rels.append((None, alias.lower(), fields))
            else:
                rm = re.match(r"\s+([A-Za-z_][\w.]*)\s*", q[pos:])
                if rm is None:
                    # `FROM (subquery)`, `FROM VALUES`, lateral, ...
                    typed = False
                    break
                rel = rm.group(1)
                pos += rm.end()
                if q[pos : pos + 1] == "(" or rel.lower() in _ALIAS_STOP:
                    # a table function call, or `FROM` inside
                    # EXTRACT/SUBSTRING/TRIM text reaching a keyword
                    typed = False
                    break
                am = re.match(r"(?:AS\s+)?([A-Za-z_]\w*)\s*", q[pos:], re.IGNORECASE)
                alias = None
                if am and am.group(1).lower() not in _ALIAS_STOP:
                    alias = am.group(1)
                    pos += am.end()
                rels.append((rel, (alias or rel).lower(), None))
                if alias and q[pos : pos + 1] == "(":
                    typed = False  # column-rename alias list
                    break
            cm = re.match(r"\s*,", q[pos:])
            if not cm:
                break
            pos += cm.end()
    frames: dict = {}
    seen = set(ctes)
    for tbl, _, _ in rels:
        if tbl is None or tbl.lower() in seen:
            continue
        seen.add(tbl.lower())
        try:
            df = spark.table(tbl)
            if typed:
                df.schema  # fetched here so a failure only skips the table
        except Exception:
            continue  # no catalog table: nothing typed, nothing sized
        frames[tbl.lower()] = df
    if not typed or not rels:
        return None, frames
    out: dict = {}
    bare: dict[str, list] = {}
    quals: set[str] = set()
    for tbl, qual, fields in rels:
        if tbl is not None:
            if tbl.lower() not in frames:
                return None, frames  # a CTE name, or no catalog table
            fields = [(f.name.lower(), f.dataType) for f in frames[tbl.lower()].schema]
        if qual in quals:
            # the same alias in two scopes (outer FROM t f ... IN (SELECT
            # ... FROM u f)): last-wins typing could fire a value-changing
            # rewrite on the WRONG column
            return None, frames
        quals.add(qual)
        for c, dt in fields:
            out[f"{qual}.{c}"] = dt
            bare.setdefault(c, []).append(dt)
    for c, dts in bare.items():
        if len(dts) == 1:
            out[c] = dts[0]
    return out, frames


def _inline_values(q: str, pos: int) -> tuple[int, str, list] | None:
    """Type an inline ``(VALUES (...), ...) AS t(c1, c2)`` derived table
    at ``pos`` from its literal cells, so the passes fire over
    inline-VALUES FROMs as they do over catalog tables (the reference
    types bare integer literals Int64, so ``SELECT x/2 FROM (VALUES (7))
    t(x)`` truncates). Returns ``(next_pos, alias, [(col, DataType),
    ...])``, or None when the shape is not a literal-only VALUES derived
    table with a column-alias list. A column whose cells are not plain
    literals (expressions, all NULL, mixed incompatible types) stays
    untyped, so its rewrites are skipped."""
    m = re.match(r"\s*\(\s*VALUES\b", q[pos:], re.IGNORECASE)
    if m is None:
        return None
    open_at = pos + q[pos:].index("(")
    i = close(q, open_at)
    if i is None:
        return None
    body = q[open_at + 1 : i]
    am = re.match(
        r"\s*(?:AS\s+)?([A-Za-z_]\w*)\s*\(\s*([^()]*?)\s*\)",
        q[i + 1 :],
        re.IGNORECASE,
    )
    if am is None or am.group(1).lower() in _ALIAS_STOP:
        return None
    alias = am.group(1)
    cols = [c.strip().lower() for c in am.group(2).split(",") if c.strip()]
    rows_txt = body[len(body) - len(body.lstrip()) + 6 :]  # past VALUES
    row_cells: list[list[str]] = []
    for part in split(rows_txt):
        part = part.strip()
        if not (part.startswith("(") and part.endswith(")")):
            return None
        row_cells.append(split(part[1:-1]))
    if not row_cells or not cols or any(len(r) != len(cols) for r in row_cells):
        return None

    def _cell(tok: str):
        t = tok.strip()
        u = t.upper()
        if u == "NULL":
            return "null"
        if re.fullmatch(LIT, t):
            return StringType()
        if re.fullmatch(r"[+-]?\d+", t):
            return LongType()
        if re.fullmatch(r"[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?", t):
            return DoubleType()
        if u in ("TRUE", "FALSE"):
            return BooleanType()
        if re.fullmatch(rf"DATE\s+{LIT}", t, re.IGNORECASE):
            return DateType()
        if re.fullmatch(rf"TIMESTAMP\s+{LIT}", t, re.IGNORECASE):
            return TimestampType()
        return None

    fields: list[tuple[str, object]] = []
    for ci, cname in enumerate(cols):
        kinds: set = set()
        unresolvable = False
        for r in row_cells:
            k = _cell(r[ci])
            if k is None:
                unresolvable = True
                break
            if k != "null":
                kinds.add(type(k))
        if unresolvable:
            continue  # untyped column — conservative skip
        if len(kinds) == 1:
            fields.append((cname, next(iter(kinds))()))
        elif kinds == {LongType, DoubleType}:
            fields.append((cname, DoubleType()))
    return i + 1 + am.end(), alias, fields


# -- the passes, in TYPED_PASSES order ---------------------------------------


def tz_date_trunc(q: str, lx: Lexed, scope: Scope) -> str:
    """Zone-aware date_trunc over NAMED-TZ columns (timestamps.slt #8899
    battery; datetime/date_trunc.rs truncates in the value's own time
    zone): when the argument column's view declared a
    Timestamp(_, Some("tz")) type (register_view records it), truncate the
    WALL CLOCK in that zone — from_utc_timestamp → date_trunc →
    to_utc_timestamp, whose Java gap/ambiguity resolution (shift forward
    through DST gaps, earlier offset on ambiguity) matches the reference's
    chrono-tz behavior on the corpus. Only units COARSER than hour
    convert: hour/minute/second truncation is instant arithmetic in the
    reference (the Berlin DST hour repeats in its golden — a wall-clock
    path could not produce that), and instants are zone-independent.
    Unresolvable shapes keep Spark's UTC trunc (§1.2 residual)."""
    zones = scope.ctx._column_tz()
    if not zones or scope.rel.schema is None:
        return q

    def call(_fn: str, parts: list[str], _after: str) -> str | None:
        if len(parts) != 2:
            return None
        unit = (lx.string(parts[0]) or "").lower()
        mcol = re.fullmatch(r"(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)", parts[1])
        if unit not in ("day", "week", "month", "quarter", "year") or mcol is None:
            return None
        col = mcol.group(2).lower()
        tzs = {zones.get(t, {}).get(col) for t in scope.rel.tables} - {None}
        if len(tzs) != 1:
            return None
        tz_lit = lx.add(quote(next(iter(tzs))))
        return (
            f"to_utc_timestamp(date_trunc({parts[0]}, "
            f"from_utc_timestamp({parts[1]}, {tz_lit})), {tz_lit})"
        )

    return rewrite_calls(q, "date_trunc", call)


def median(q: str, lx: Lexed, scope: Scope) -> str:
    """Type-preserving exact median (median.rs calculate_median): the
    reference returns the INPUT type — for an even count the two middle
    values are averaged in the native type's arithmetic, i.e. TRUNCATING
    for integers and decimals ((a+b) i128-div 2), float mean for floats.
    Spark's median is always an interpolating DOUBLE, which loses both the
    type and exactness (int64 > 2^53, decimal scale).

    Lowered to a sorted-collect formula when the argument is a column of
    integral or decimal type. Floats keep Spark's median (same value), and
    unresolvable shapes (subqueries, expressions) keep the interpolating
    median as the documented divergence. Spark computes the repeated
    collect_list aggregate once (aggregate-expression deduplication), and
    `div` truncates toward zero exactly like i128 division (-7 div 2 = -3).

    SCALE CEILING: the lowering materializes a whole group's values in ONE
    array row. That is behavior parity — median.rs also buffers every
    group value in a Vec — but Spark's single-row limit is 2 GiB. Sources
    over EXACT_MAX_BYTES keep Spark's native interpolating median:
    value-identical for odd counts and for floats; even integer/decimal
    counts then interpolate in double instead of truncating — the
    documented trade at scale."""
    if scope.rel.schema is None or scope.rel.over_cap():
        return q

    def call(_fn: str, args: list[str], after: str) -> str | None:
        if re.match(r"\s*(OVER|FILTER)\b", after, re.IGNORECASE):
            return None
        argstr = ", ".join(args)
        md = re.match(r"DISTINCT\s+(.+)$", argstr, re.IGNORECASE | re.DOTALL)
        x = (md.group(1) if md else argstr).strip()
        dtype = scope.rel.column_type(x)
        collect = "collect_set" if md else "collect_list"
        A = f"array_sort({collect}({x}))"
        m1 = f"element_at({A}, CAST((size({A}) + 1) div 2 AS INT))"
        m2 = f"element_at({A}, CAST(size({A}) div 2 + 1 AS INT))"
        if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
            t = dtype.simpleString()
            even = (
                f"CASE WHEN {m1} >= 0 THEN {m1} + (({m2} - {m1}) div 2) "
                f"WHEN {m2} <= 0 THEN {m2} - (({m2} - {m1}) div 2) "
                f"ELSE ({m1} + {m2}) div 2 END"
            )
        elif isinstance(dtype, DecimalType):
            p_, s_ = dtype.precision, dtype.scale
            t = f"decimal({p_},{s_})"
            scale_f = 10**s_
            u = (
                f"(CAST(CAST({m1} AS DECIMAL(38,{s_})) * {scale_f} AS DECIMAL(38,0)) "
                f"+ CAST(CAST({m2} AS DECIMAL(38,{s_})) * {scale_f} AS DECIMAL(38,0)))"
            )
            even = f"CAST(CAST(({u} div 2) AS DECIMAL(38,{s_})) / {scale_f} AS {t})"
        else:
            return None
        return (
            f"(CASE WHEN size({A}) = 0 THEN CAST(NULL AS {t}) "
            f"WHEN size({A}) % 2 = 1 THEN CAST({m2} AS {t}) "
            f"ELSE CAST({even} AS {t}) END)"
        )

    return rewrite_calls(q, "median", call)


def decimal_avg(q: str, lx: Lexed, scope: Scope) -> str:
    """Decimal AVG with the reference's TRUNCATING division
    (functions-aggregate/src/average.rs DecimalAverager: the i128 sum is
    integer-divided by the count, truncating toward zero at result scale
    s+4; Spark's decimal divide rounds HALF_UP, so the last digit diverges
    — tpch.slt q1's avg_disc 0.050144 vs 0.050145).

    Result type matches the reference: Decimal128(p+4 capped 38, s+4).
    Lowered when the argument is a column of DecimalType; subqueries in
    FROM and expression arguments keep Spark's avg (documented §1.2
    residual). Exactness: sum is an exact decimal; multiplying by
    10^(s+4) makes the target quotient's unscaled value integral, `div`
    truncates toward zero exactly (the reference's i128 `/`), and the
    final /10^(s+4) + cast are exact power-of-ten rescales. Bound: the
    truncated unscaled average must fit a BIGINT (avg < 10^(14-s)
    absolute) — beyond that the form would overflow long before
    Decimal128 does; such magnitudes keep Spark's avg."""

    def avg(_fn: str, args: list[str], after: str) -> str | None:
        # windowed / filtered aggregates keep Spark semantics: the
        # CAST(... div ...) form cannot take an OVER or FILTER clause
        # (the truncation emulation exists for the grouped slt form)
        if re.match(r"\s*(OVER|FILTER)\b", after, re.IGNORECASE):
            return None
        arg = ", ".join(args)
        dt = scope.rel.column_type(arg)
        if not isinstance(dt, DecimalType) or dt.scale + 4 > 19:
            return None
        p, s = dt.precision, dt.scale
        scale10 = 10 ** (s + 4)
        # the quotient is cast to DECIMAL(19,0), NOT (38,0): under Spark's
        # precision-cap rule a 38-digit dividend forces the division
        # result's scale down to 6 (HALF_UP rounding — the very thing this
        # rewrite removes); 19 integer digits leave the capped result
        # scale at 19, so the /10^(s+4) rescale is exact for every s ≤ 15
        return (
            f"CAST(CAST((CAST(SUM({arg}) AS DECIMAL(38,{s})) * {scale10})"
            f" div COUNT({arg}) AS DECIMAL(19,0)) / {scale10}"
            f" AS DECIMAL({min(p + 4, 38)},{s + 4}))"
        )

    return rewrite_calls(q, "avg", avg)


_CAST_DEC = r"CAST\s*\(\s*[^()]*?\s+AS\s+DECIMAL\s*\(\s*\d+\s*,\s*\d+\s*\)\s*\)"
_DEC_OPERAND = rf"{_CAST_DEC}|\(\s*{COL}\s*\)|{COL}"
_DEC_DIVISION = re.compile(
    rf"(?<![\w.])({_DEC_OPERAND})\s*/\s*({_DEC_OPERAND})(?![\w.])", re.IGNORECASE
)


def decimal_division(q: str, lx: Lexed, scope: Scope) -> str:
    """Decimal / decimal division with arrow-rs's result type and
    TRUNCATION (arrow-arith numeric.rs decimal ``Op::Div``: result scale
    s1+4, precision min(p1+s2+4, 38); the i128 quotient of
    l·10^(rs−s1+s2) by r's unscaled value — i128 ``/`` truncates toward
    zero). Spark instead widens the quotient scale to max(6, s1+p2+1) and
    rounds HALF_UP, so decimal.slt:397's 0.7142857142 golden shows Spark's
    ...42857142857 tail.

    Lowered when BOTH operands are decimal: a column of DecimalType, or an
    inline ``CAST(x AS DECIMAL(p,s))`` whose type text carries (p,s)
    directly. Exactness mirrors decimal_avg: the dividend cast's precision
    is sized so the ·10^rs product is loss-free (pa = 38 − rs − 2, gate
    p1 ≤ pa), ``div`` truncates toward zero exactly, and the
    DECIMAL(19,0)/10^rs rescale is exact for rs ≤ 17. The truncated
    unscaled quotient must fit BIGINT — the same documented bound as the
    avg lowering. Wider shapes (foo's DECIMAL(38,20)/DECIMAL(38,0), rs=24)
    keep Spark's division — §1.2 residual."""

    def _decimal_ps(tok: str) -> tuple[int, int] | None:
        cm = re.match(
            r"CAST\s*\(.*AS\s+DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*\)\s*$",
            tok,
            re.IGNORECASE | re.DOTALL,
        )
        if cm:
            return int(cm.group(1)), int(cm.group(2))
        dt = scope.rel.column_type(tok)
        return (dt.precision, dt.scale) if isinstance(dt, DecimalType) else None

    def repl(m: re.Match) -> str:
        a, b = m.group(1).strip(), m.group(2).strip()
        pa_ps, pb_ps = _decimal_ps(a), _decimal_ps(b)
        if pa_ps is None or pb_ps is None:
            return m.group(0)
        (p1, s1), (p2, s2) = pa_ps, pb_ps
        rs = s1 + 4
        pr = min(p1 + s2 + 4, 38)
        pa = 38 - rs - 2  # dividend cast precision: ·10^rs stays exact
        if rs > 17 or p1 > pa:
            return m.group(0)
        pow10 = 10**rs
        quot = f"(CAST({a} AS DECIMAL({pa},{s1})) * {pow10}) div ({b})"
        if pr > 19:
            # the truncated quotient can exceed BIGINT for this SHAPE
            # (worst case: |b| = 10^-s2 → up to 10^pr) even though
            # in-range values divide exactly — decimal.slt:397's
            # DECIMAL(10,6)/DECIMAL(12,7) golden is pr=21. Spark's `div`
            # would return NULL on LONG overflow (non-ANSI), a SILENT
            # divergence from arrow-rs's i128 quotient — make it LOUD
            # instead of forfeiting the golden (skip-gating pr>19 would
            # un-green the reference's own test)
            quot = (
                f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL "
                f"OR ({b}) = 0 THEN {quot} "
                f"WHEN ({quot}) IS NULL THEN raise_error({overflow}) "
                f"ELSE ({quot}) END)"
            )
        return (
            f"CAST(CAST({quot} AS DECIMAL(19,0)) / {pow10}"
            f" AS DECIMAL({pr},{rs}))"
        )

    overflow = lx.add(
        "'decimal division: truncated quotient exceeds BIGINT"
        " (documented arrow-parity bound)'"
    )
    return _DEC_DIVISION.sub(repl, q)


# the functions deep_array_fns lowers, by kind. cardinality counts LEAF
# elements recursively, NULL for a flat empty array (functions-array
# cardinality.rs). The runtime typeof-CASE fallback (the cardinality pass)
# cannot type-check for FLAT inputs — static depth makes those exact too.
# Same for array_dims (per-level sizes via a try_element_at chain) and
# 2-arg array_length (size along a dimension): their templates' probe
# chains fail ANALYSIS on flat inputs.
_DEEP_ARRAY_FNS = {
    "array_to_string": "join",
    "list_to_string": "join",
    "array_join": "join",
    "list_join": "join",
    "flatten": "flatten",
    "cardinality": "card",
    "array_dims": "dims",
    "list_dims": "dims",
    "array_length": "len",
    "list_length": "len",
}


def _array_arg_depth(arg: str, rel: Relations, lx: Lexed) -> int | None:
    """Static array-nesting depth of an expression TEXT, or None when
    unresolvable. Resolves columns, bracket literals,
    make_array/array_repeat chains, and arrow_cast type strings — the
    shapes the reference's array corpus uses. ``lx`` resolves arrow_cast's
    TYPE STRING, a shielded literal.

    Calls are rewritten bottom-up, so a flatten in ``arg`` is already
    Spark's one-level flatten (or the ``(x)`` identity emitted for a flat
    input): both are seen through."""
    arg = arg.strip()
    low = arg.lower()
    if arg.startswith("(") and close(arg, 0) == len(arg) - 1:
        return _array_arg_depth(arg[1:-1], rel, lx)
    if low.startswith("flatten(") and close(arg, 7) == len(arg) - 1:
        d = _array_arg_depth(arg[8:-1], rel, lx)
        return d - 1 if d and d > 1 else None
    if arg.startswith("["):
        # whitespace may separate nested brackets: `[ [1], [2] ]`
        m = re.match(r"(?:\[\s*)+", arg)
        return m.group(0).count("[")
    for fn in ("make_array(", "array_repeat("):
        if low.startswith(fn) and arg.endswith(")"):
            inner = split(arg[len(fn) : -1])
            d = _array_arg_depth(inner[0], rel, lx) if inner else None
            return (d or 0) + 1
    if low.startswith("arrow_cast(") and arg.endswith(")"):
        parts = split(arg[len("arrow_cast(") : -1])
        if len(parts) == 2:
            t = lx.literal(parts[1]) or parts[1].strip()
            return len(re.findall(r"(?:Fixed_?Size|Large)?List\s*\(", t, re.I)) or None
    dt = rel.column_type(arg)
    d = 0
    while isinstance(dt, ArrayType):
        d, dt = d + 1, dt.elementType
    return d or None


def deep_array_fns(q: str, lx: Lexed, scope: Scope) -> str:
    """flatten / array_to_string over NESTED arrays, the reference's
    recursive leaf semantics (functions-array flatten.rs flattens
    RECURSIVELY; array_to_string joins the leaves of any nesting). Spark's
    flatten removes exactly one level and errors on flat input, and a
    runtime CASE over depth cannot type-check, so the depth must be
    static: resolvable argument shapes get flatten applied (depth-1) times
    (identity for flat input — the reference returns flat arrays
    unchanged); unresolvable shapes keep Spark's semantics (documented
    partial)."""

    def flattened(arg: str, times: int) -> str:
        out = arg
        for _ in range(times):
            out = f"flatten({out})"
        return out

    def call(fn: str, parts: list[str], _after: str) -> str | None:
        kind = _DEEP_ARRAY_FNS[fn]
        if (kind in ("card", "dims") and len(parts) != 1) or (
            kind == "len" and len(parts) != 2
        ):
            return None
        d = _array_arg_depth(parts[0], scope.rel, lx)
        if d is None or (kind == "join" and d <= 1):
            return None
        arg = parts[0]
        if kind == "join":
            return f"{fn}({', '.join([flattened(arg, d - 1), *parts[1:]])})"
        if kind == "card":
            # empty OUTER array is NULL at every depth (compute_array_dims
            # yields None → cardinality NULL); nested-empty like [[]]
            # stays 0
            if d == 1:
                return f"nullif(size({arg}), 0)"
            return (
                f"(CASE WHEN size({arg}) = 0 THEN NULL "
                f"ELSE size({flattened(arg, d - 1)}) END)"
            )
        if kind == "dims":
            chain, sizes = arg, []
            for _ in range(d):
                sizes.append(f"size({chain})")
                chain = f"try_element_at({chain}, 1)"
            return (
                f"(CASE WHEN ({arg}) IS NULL THEN NULL "
                f"WHEN size({arg}) = 0 THEN NULL "
                f"ELSE array({', '.join(sizes)}) END)"
            )
        if kind == "len":
            dim = parts[1]
            chain, whens = arg, []
            for k in range(1, d + 1):
                whens.append(f"WHEN ({dim}) = {k} THEN size({chain})")
                chain = f"try_element_at({chain}, 1)"
            # dims past the nesting depth are NULL (length.rs)
            return f"(CASE {' '.join(whens)} END)"
        if d == 1:  # reference flatten(flat) = identity
            return f"({arg})"
        return flattened(arg, d - 1)

    return rewrite_calls(q, tuple(_DEEP_ARRAY_FNS), call)


# t::bigint — the lookbehind blocks the tail of a ::timestamp::bigint
# chain (handled by the timestamp_bigint_casts pass)
_COLON_BIGINT = re.compile(
    rf"(?<![\w.:])({COL})\s*::\s*BIGINT\b(?:\s*/\s*(\d+))?", re.IGNORECASE
)
_CAST_BIGINT = re.compile(
    rf"\bCAST\s*\(\s*({COL})\s+AS\s+BIGINT\s*\)(?:\s*/\s*(\d+))?", re.IGNORECASE
)


def ts_bigint_bare(q: str, lx: Lexed, scope: Scope) -> str:
    """Bare (hop-less) timestamp→integer cast: ``CAST(t AS BIGINT)`` /
    ``t::bigint`` over a TimestampType column lowers to
    ``unix_micros(t) * 1000`` — the epoch-NS count, the same unit the
    ``::timestamp::bigint`` chain rewrite produces, so adding a REDUNDANT
    ``::timestamp`` hop cannot change the answer ×10⁹. Unit policy:
    **ns**, chosen for chain-consistency — the reference's cast
    REINTERPRETS the source-unit count and its string→timestamp default is
    Timestamp(NANOSECOND) (arrow-cast; joins.slt test_timestamps_table
    goldens are ns), so every spelling of the ts→bigint family in this
    engine returns ns. Operands that do not resolve to TIMESTAMP (subquery
    FROMs, expressions) keep Spark's epoch-seconds cast — documented §1.2
    residual. An immediately following integer-literal divisor joins the
    rewrite (truncating ``div``), mirroring the chain arm."""

    def _repl(m: "re.Match[str]") -> str:
        src, dv = m.group(1), m.group(2)
        if not isinstance(scope.rel.column_type(src), (TimestampType, TimestampNTZType)):
            return m.group(0)
        ns = f"(unix_micros({src}) * 1000)"
        return f"({ns} div {dv})" if dv else ns

    return _CAST_BIGINT.sub(_repl, _COLON_BIGINT.sub(_repl, q))


_INT_T = r"(?:TINYINT|SMALLINT|INT|INTEGER|BIGINT)"
_CAST_INT = rf"CAST\s*\(\s*[^()]*?\s+AS\s+{_INT_T}\s*\)"
_COLON_INT = rf"(?:{COL}|\d+)\s*::\s*{_INT_T}"
_INT_OPERAND = (
    rf"{_CAST_INT}|{_COLON_INT}"
    rf"|\(\s*(?:{_CAST_INT}|(?:{COL}|\d+)(?:\s*::\s*{_INT_T})?)\s*\)"
    rf"|{COL}|\d+"
)
# the ':' boundary guards keep this from grabbing the TAIL of a ::-cast
# chain: in `ts::timestamp::bigint / 1000` the substring
# `timestamp::bigint` is a valid ::-integral operand shape, but folding it
# would split the chain mid-way (`ts::(timestamp::bigint div 1000)` —
# unparseable); chains are the chain rewrite's job
_INT_DIVISION = re.compile(
    rf"(?<![\w.:])({_INT_OPERAND})\s*/\s*({_INT_OPERAND})(?![\w.:])", re.IGNORECASE
)
_INT_CAST = re.compile(rf"(?:{_CAST_INT}|{_COLON_INT})\s*$", re.IGNORECASE)


def int_division(q: str, lx: Lexed, scope: Scope) -> str:
    """Integer COLUMN division truncates in the reference (Int64/Int64 →
    Int64, like Rust's `/`); Spark's `/` is always fractional. The
    literal/literal pair is folded by the int_literal_division pass; this
    closes the column cases the text layer alone cannot type: `a / b`
    where each operand is an integer literal or a column of INTEGRAL type
    lowers to `a div b` — Spark's `div` is Int64 truncating division, the
    reference's exact semantics. Subqueries in FROM and non-integral
    operands keep Spark's `/` (documented §1.2 residual).
    Statically-integral operand spellings — integer literals, integer
    CASTs in either ``CAST(x AS T)`` or ``x::T`` form, and redundant parens
    around any of those — need no schema, so they divide truncating even
    in FROM-less or unresolvable-FROM statements."""

    def integral(tok: str) -> bool:
        if re.fullmatch(r"\d+", tok) or _INT_CAST.match(tok):
            # an explicit integer CAST is statically integral — the CAST
            # spelling of an integer operand must divide like the bare
            # column; the :: spelling is the same cast one token away
            return True
        pm = re.fullmatch(r"\(\s*(.*?)\s*\)", tok)
        if pm:  # parenthesized operand — same token one () away
            return integral(pm.group(1))
        return isinstance(
            scope.rel.column_type(tok), (ByteType, ShortType, IntegerType, LongType)
        )

    def repl(m: re.Match) -> str:
        a, b = m.group(1), m.group(2)
        has_col = not (a.isdigit() and b.isdigit())
        if has_col and integral(a) and integral(b):
            return f"({a} div {b})"
        return m.group(0)

    return _INT_DIVISION.sub(repl, q)


def f32_math(q: str, lx: Lexed, scope: Scope) -> str:
    """Float32 math kernels. §1.2 widens f32 compute to f64, and the slt
    comparator absorbs that at ≤9 significant digits — but three corpus
    shapes carry f32 artifacts OUTSIDE that window, where the reference
    (functions/src/math) evaluates the kernel at Float32:

    - ``round(c[, s])`` on a Float column (math.slt over aggregate_simple's
      REAL c1): the reference computes ``(x * 10f32.powi(s)).round() /
      10^s`` ENTIRELY at f32 — for c1 = 0.00005f (stored BELOW the
      decimal, 4.9999998737e-5) the f32 multiply lands within half-ulp of
      0.5 and rounds UP to exactly 0.5f, which .round() takes half-away to
      1; Spark's round sees the f64-widened 4.9999998737e-5 and ties DOWN.
      The lowering reproduces the f32 multiply with a true float*float
      product (Spark's Multiply on two FloatType inputs is Java f32
      arithmetic), rounds the exact f32 value in f64 (HALF_UP there equals
      f32 half-away — representable f32 ties are exact in f64), and
      rescales.
    - ``sqrt(c)`` on a Float column: sqrt(Float32) → Float32 in the
      reference where Spark computes DOUBLE (functions.slt's
      avg(sqrt(c11)) golden 0.658440848589 is the mean of the f32-rounded
      roots) → ``CAST(sqrt(c) AS FLOAT)``.
    NOT lowered: 1-arg log over integers (the reference coerces to f32
    there too, but its golden 0.3010299801826477 is one ulp BELOW the
    correctly-rounded f32 log10(2) — a platform-libm artifact the
    reference's own corpus flags as OS-dependent ("round is needed to
    normalize the outputs of different operating systems",
    scalar.slt:567) — no portable computation reproduces it).

    Every other shape keeps Spark's f64 math (§1.2 policy)."""

    def call(fn: str, args: list[str], _after: str) -> str | None:
        if not isinstance(scope.rel.column_type(args[0]), FloatType) or len(args) > (
            1 if fn == "sqrt" else 2
        ):
            return None
        if fn == "sqrt":
            return f"CAST(SQRT({args[0]}) AS FLOAT)"
        sc = args[1] if len(args) == 2 else "0"
        if not re.fullmatch(r"\d|10", sc):
            return None  # non-literal / out-of-range scale: Spark
        p10 = 10 ** int(sc)
        return (
            f"CAST(ROUND(CAST({args[0]} * CAST({p10} AS FLOAT) "
            f"AS FLOAT), 0) / {p10} AS FLOAT)"
        )

    return rewrite_calls(q, ("round", "sqrt"), call)


def approx_percentile(q: str, lx: Lexed, scope: Scope) -> str:
    """approx_percentile_cont / approx_median /
    approx_percentile_cont_with_weight → the faithful t-digest aggregate
    (functions/tdigest.py — the reference's merging-digest semantics,
    functions-aggregate/src/approx_percentile_cont.rs +
    physical-expr-common/src/aggregate/tdigest.rs), evaluated as
    ``collect_list`` + a scalar pandas UDF registered once per context.

    The result is the reference's Float64 estimate converted to the INPUT
    type with a truncating cast (`q as i64`, approx_percentile_cont.rs:400)
    when the argument is a plain column; expression arguments keep the
    double estimate (the corpus' expression-shaped records are ±5% bound
    checks, which the estimate satisfies by construction).

    SCALE GUARD: the t-digest lowering materializes each group via
    ``collect_list`` — behavior the reference does NOT share (its
    accumulator keeps O(max_size)=100 centroids of streaming state,
    physical-expr-common/src/aggregate/tdigest.rs:37). When the sources
    exceed EXACT_MAX_BYTES the lowering keeps Spark's native streaming
    ``percentile_approx(x, q, 10000)`` (KLL-style GK sketch, bounded
    state) instead: it satisfies every corpus ±bound check; the bit-exact
    t-digest only matters for the slt direct-value goldens, whose fixtures
    are far under the cap. Subquery-shaped FROMs size through the base
    tables the statement names (Relations.tables), so the guard fires
    there too; only table-function sources (range(...), UDTFs) stay
    unsized and fail open, documented."""
    from arrow_datafusion_spark.functions.tdigest import register_udafs

    if not getattr(scope.ctx, "_tdigest_registered", False):
        register_udafs(scope.ctx.spark)
        scope.ctx._tdigest_registered = True
    return _lower_approx_percentile(q, lx, scope.rel.column_type, scope.rel.over_cap())


# Run in this order, before sql/rewrite.py REWRITE_PASSES.
TYPED_PASSES = (
    Pass("tz_date_trunc", re.compile(r"\bdate_trunc\s*\(", re.I), tz_date_trunc),
    Pass("median", re.compile(r"\bmedian\s*\(", re.I), median),
    Pass("decimal_avg", re.compile(r"\bavg\s*\(", re.I), decimal_avg),
    Pass("decimal_division", re.compile("/"), decimal_division, ("decimal.slt:397",)),
    Pass(
        "deep_array_fns",
        re.compile("flatten|to_string|_join|cardinality|dims|length", re.I),
        deep_array_fns,
    ),
    Pass("ts_bigint_bare", re.compile("BIGINT|::", re.I), ts_bigint_bare),
    Pass("int_division", re.compile("/"), int_division),
    Pass(
        "f32_math", re.compile(r"\b(?:round|sqrt)\s*\(", re.I), f32_math, ("scalar.slt:567",)
    ),
    Pass(
        "approx_percentile",
        re.compile(r"\bapprox_(?:median|percentile_cont)", re.I),
        approx_percentile,
    ),
)
