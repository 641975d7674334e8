"""sqllogictest (.slt) runner — the reference's primary test harness
(SURVEY §5; /root/reference/datafusion/sqllogictest/, 58k lines of .slt).

Runs the semi-standard sqllogictest dialect against ``SessionContext.sql``:

- ``query <type-codes> [rowsort|valuesort]`` records execute and compare
  against the expected block; ``statement ok`` records execute and must
  succeed; ``statement error`` records must raise (any message — error
  TEXTS are engine-specific).
- Value normalization mirrors the reference's conversion rules
  (sqllogictest/src/engines/conversion.rs): NULL → ``NULL``, booleans →
  ``true``/``false``, empty strings → ``(empty)``; floats/decimals are
  compared NUMERICALLY (the reference rounds to 12 decimal places —
  numeric compare at 1e-10 relative is the same discrimination without
  replicating BigDecimal's string form).
- Records whose SQL the engine cannot run (DataFusion-only functions,
  unsupported DDL forms) are counted as *skipped*, never silently
  dropped; value MISMATCHES on queries that do run are failures. A
  ``statement error`` that unexpectedly succeeds is recorded as a
  *divergence* (Spark accepting SQL DataFusion rejects is not a wrong
  result).

This is a real engine feature, not test scaffolding: a reference user can
point it at their own .slt suites (``run_slt_file(ctx, path)``).
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass, field

from arrow_datafusion_spark.sql.lex import LIT, lex, quote, split, top_level


@dataclass
class Record:
    kind: str  # "query" | "statement_ok" | "statement_error"
    sql: str
    line: int
    type_codes: str = ""
    sort_mode: str | None = None
    expected: list[str] = field(default_factory=list)


@dataclass
class SltReport:
    path: str
    passed: int = 0
    failed: int = 0
    skipped: int = 0
    divergences: int = 0
    failures: list[str] = field(default_factory=list)
    skips: list[str] = field(default_factory=list)  # reason per skipped rec
    divnotes: list[str] = field(default_factory=list)  # reason per divergence

    def summary(self) -> str:
        return (
            f"{self.path}: {self.passed} passed, {self.failed} failed, "
            f"{self.skipped} skipped (unrunnable), {self.divergences} divergences"
        )


def parse_slt(text: str) -> list[Record]:
    """Parse one .slt file into records (comments and directives like
    ``onlyif``/``skipif``/``control`` are dropped — single-engine runner)."""
    records: list[Record] = []
    lines = text.splitlines()
    i = 0
    n = len(lines)
    while i < n:
        line = lines[i].strip()
        if not line or line.startswith("#"):
            i += 1
            continue
        if line.startswith(("onlyif", "skipif", "control", "hash-threshold")):
            i += 1
            continue
        if line == "halt":
            break
        m = re.match(r"statement\s+(ok|error)(.*)$", line)
        if m:
            kind = "statement_ok" if m.group(1) == "ok" else "statement_error"
            start = i
            i += 1
            # tolerate blank lines between the directive and its SQL
            # (arrow_files.slt:21 — the reference harness accepts this) —
            # but never swallow a comment or the next record's directive
            j = i
            while j < n and not lines[j].strip():
                j += 1
            if j < n and not re.match(
                r"#|statement\s|query\s|halt$|onlyif|skipif|control|hash-threshold",
                lines[j].strip(),
            ):
                i = j
            sql_lines: list[str] = []
            while i < n and lines[i].strip() and not lines[i].startswith("----"):
                sql_lines.append(lines[i])
                i += 1
            # multi-line expected-error blocks (after ----) are skipped
            while i < n and lines[i].strip():
                i += 1
            records.append(Record(kind, "\n".join(sql_lines), start + 1))
            continue
        m = re.match(r"query\s+error(\s|$)", line)
        if m:
            # `query error [message]` — expected-failure form
            start = i
            i += 1
            sql_lines = []
            while i < n and lines[i].strip() and not lines[i].startswith("----"):
                sql_lines.append(lines[i])
                i += 1
            while i < n and lines[i].strip():
                i += 1
            records.append(Record("statement_error", "\n".join(sql_lines), start + 1))
            continue
        m = re.match(r"query\s+(\S+)(?:\s+(\S+))?\s*$", line)
        if m:
            codes = m.group(1)
            sort_mode = m.group(2)
            start = i
            i += 1
            sql_lines = []
            while i < n and lines[i].strip() != "----" and lines[i].strip():
                sql_lines.append(lines[i])
                i += 1
            expected: list[str] = []
            if i < n and lines[i].strip() == "----":
                i += 1
                # tolerate a stray doubled separator (" ----\n----")
                if i < n and lines[i].strip() == "----":
                    i += 1
                while i < n and lines[i].strip():
                    expected.append(lines[i].rstrip("\n"))
                    i += 1
            records.append(
                Record("query", "\n".join(sql_lines), start + 1, codes, sort_mode, expected)
            )
            continue
        i += 1  # unknown directive — ignore
    return records


def _map_order_safe(df):
    """Collect-safe map columns: the JVM→Python conversion of MapType
    iterates a hash structure, scrambling entry order, while the engine
    (and arrow's Display, which the goldens encode) keeps the stored
    order. Rewrap top-level map columns as struct(__m = ordered
    key/value struct array) — map_entries preserves order and arrays
    survive collect intact; _norm_cell renders the wrapper back as map
    text. NULL maps stay NULL (map_entries(NULL) is NULL inside the
    struct)."""
    from pyspark.sql.types import MapType

    if not any(isinstance(f.dataType, MapType) for f in df.schema):
        return df
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, MapType):
            c = F.struct(
                F.transform(
                    F.map_entries(c),
                    lambda e: F.struct(
                        e["key"].alias("__mk"), e["value"].alias("__mv")
                    ),
                ).alias("__m")
            )
        cols.append(c.alias(f.name))
    return df.select(*cols)


def _norm_cell(v, code: str) -> str:
    """One output cell → slt string (conversion.rs rules + the engine's
    Display forms for intervals and structs)."""
    import datetime as _dt

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        # reference: BigDecimal.round(12).normalized()
        s = f"{v:.12f}".rstrip("0").rstrip(".")
        return s if s not in ("", "-0") else "0"
    if isinstance(v, str):
        return v if v != "" else "(empty)"
    if isinstance(v, (bytes, bytearray)):
        # arrow's Binary Display is lowercase hex (e.g. 426172 for b"Bar")
        return bytes(v).hex()
    if isinstance(v, _dt.time):
        # arrow's Time Display prints the STORAGE UNIT's width (.123 for
        # Time32(ms), .123456 for Time64(µs)); Spark's TIME is always µs,
        # so trim trailing zeros in 3-digit groups to recover the
        # narrower-unit display (a µs value with a zero sub-ms tail came
        # from a ms-precision literal — timestamps.slt:452)
        s = v.isoformat()
        if "." in s:
            s = re.sub(r"\.(\d{3})000$", r".\1", s).rstrip(".")
            s = re.sub(r"\.000$", "", s)
        return s
    if isinstance(v, _dt.datetime):
        # arrow prints ISO-8601 with 'T'; fractional digits are compared
        # unit-insensitively by _values_equal (_ts_key pads to ns)
        return v.isoformat()
    if isinstance(v, _dt.timedelta):
        # arrow's IntervalDayTime/Duration Display:
        # "0 years 0 mons D days H hours M mins S.%09d secs"
        total = v.total_seconds()
        sign = "-" if total < 0 else ""
        total = abs(total)
        days = int(total // 86400)
        rem = total - days * 86400
        hours = int(rem // 3600)
        mins = int(rem % 3600 // 60)
        secs = rem - hours * 3600 - mins * 60
        return (
            f"0 years 0 mons {sign}{days} days {sign}{hours} hours "
            f"{sign}{mins} mins {sign}{secs:.9f} secs"
        )
    try:  # Decimal — plain form, trailing zeros stripped (normalized())
        import decimal

        if isinstance(v, decimal.Decimal):
            s = format(v, "f")
            if "." in s:
                s = s.rstrip("0").rstrip(".")
            return s if s not in ("", "-0") else "0"
    except Exception:
        pass
    try:  # pyspark Row (struct) — DataFusion displays {name: value, ...};
        # auto field names differ (Spark col1.. vs reference c0..)
        from pyspark.sql import Row

        if isinstance(v, Row) and list(getattr(v, "__fields__", [])) == ["__m"]:
            # _map_order_safe wrapper: the map's entries in ENGINE order
            # (the Python dict conversion scrambles map iteration; the
            # JVM-side map_entries array preserves it)
            ents = v["__m"]
            if ents is None:
                return "NULL"
            return (
                "{"
                + ", ".join(
                    f"{_norm_elem(e['__mk'], code)}: {_norm_elem(e['__mv'], code)}"
                    for e in ents
                )
                + "}"
            )
        if isinstance(v, Row):

            def fname(k: str) -> str:
                m = re.fullmatch(r"col(\d+)", k)
                return f"c{int(m.group(1)) - 1}" if m else k

            # arrow's struct Display renders a NULL member as empty and
            # floats with their decimal point (container rules)
            return (
                "{"
                + ", ".join(
                    f"{fname(k)}: {_norm_elem(x, code)}"
                    for k, x in v.asDict().items()
                )
                + "}"
            )
    except Exception:
        pass
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_norm_elem(x, code) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {_norm_elem(x, code)}" for k, x in v.items()) + "}"
    return str(v)


def _norm_elem(v, code: str) -> str:
    """Cell INSIDE a container — arrow's nested Display differs from the
    top level: NULL and empty strings render EMPTY, floats always carry a
    decimal point (1.0, not 1)."""
    if v is None:
        return ""
    if isinstance(v, str):
        return v
    import decimal

    if isinstance(v, decimal.Decimal):
        # keep the declared scale — arrow prints 1.0, not 1 (Spark types
        # the literal DECIMAL(2,1) where the reference types Float64)
        return format(v, "f")
    if isinstance(v, float) and math.isfinite(v):
        # arrow's NESTED float Display is the shortest round-trip form
        # (full precision — '-0.8414709848078965'), unlike the top level's
        # BigDecimal.round(12); Python's repr is exactly that form
        s = repr(v)
        return s if "." in s or "e" in s or "E" in s else s + ".0"
    s = _norm_cell(v, code)
    if isinstance(v, float) and "." not in s and s not in (
        "NaN", "Infinity", "-Infinity",
    ):
        s += ".0"
    return s


_INTERVAL_RE = re.compile(
    r"^\s*(?:(-?\d+)\s+years?\s+)?(?:(-?\d+)\s+mons?\s+)?(?:(-?\d+)\s+days?\s*)?"
    r"(?:(-?\d+)\s+hours?\s*)?(?:(-?\d+)\s+mins?\s*)?(?:(-?[\d.]+)\s+secs?)?\s*$"
)


def _parse_interval(s: str) -> float | None:
    """Arrow's interval Display forms ("0 years 0 mons 7 days 0 hours 0
    mins 0 secs", "7 days 0 hours 0 mins 0.5 secs", …) → total seconds
    (months as 30-day approximations — both sides use the same rule, and
    cross-engine results carry identical month components anyway)."""
    if not s or not any(u in s for u in ("year", "mon", "day", "hour", "min", "sec")):
        return None
    m = _INTERVAL_RE.match(s.strip())
    if not m or not any(m.groups()):
        return None
    y, mo, d, h, mi, sec = (float(g) if g else 0.0 for g in m.groups())
    return ((y * 12 + mo) * 30 + d) * 86400 + h * 3600 + mi * 60 + sec


_TS_CELL_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2})T(\d{2}:\d{2}:\d{2})(?:\.(\d+))?"
    r"(Z|[+-]\d{2}:\d{2})?$"
)


def _ts_key(s: str):
    """Timestamp cell → unit-insensitive INSTANT key: the reference prints
    the storage unit's full width (.123 for ms, .123450 for µs, 9 digits
    for ns) and tz-aware values with their session-timezone offset
    ("2022-01-01T00:00:00+07:00"); normalize any offset to UTC so equal
    instants compare equal regardless of the display zone. Offset-less
    cells are session-UTC (both engines pin UTC in this harness), so they
    normalize identically.

    The fraction carries the full NANOSECOND width; _values_equal absorbs
    the EXPECTED side's sub-µs tail only when the ACTUAL side's value is a
    true µs instant (zero sub-µs tail — §1.2 maps every Timestamp unit
    onto Spark's µs TimestampType, so digits 7-9 of the engine's cells are
    always zero). An actual cell that somehow carried nonzero sub-µs
    digits compares at full 9-digit strictness instead of silently
    truncating both sides (round-11 advice). Residual (documented): for
    PRE-EPOCH ns values the §1.2 ns→µs conversion truncates toward zero —
    the same i64 `/` the reference's own arrow cast kernel uses — while
    display-digit truncation of the expected cell corresponds to flooring
    the instant, so a pre-epoch golden with a nonzero ns tail can diverge
    from the absorbed expectation by exactly 1 µs; no current corpus
    golden exercises that corner."""
    m = _TS_CELL_RE.match(s)
    if not m:
        return None
    date, time, off = m.group(1), m.group(2), m.group(4)
    if off and off != "Z":
        import datetime as _dt

        base = _dt.datetime.fromisoformat(f"{date}T{time}{off}")
        utc = base.astimezone(_dt.timezone.utc)
        date, time = utc.date().isoformat(), utc.time().isoformat()[:8]
    return (date, time, (m.group(3) or "")[:9].ljust(9, "0"))


def _ts_keys_equal(tk_e, tk_a) -> bool:
    """Equal instants under the µs-policy absorb rule (see _ts_key)."""
    if tk_e[:2] != tk_a[:2]:
        return False
    fe, fa = tk_e[2], tk_a[2]
    if fe == fa:
        return True
    # absorb the expected's unrepresentable ns tail only when the actual
    # is a true µs value AND the representable µs digits agree
    return fa.endswith("000") and fe[:6] == fa[:6]


# Set per-file by run_slt_file: True only when the .slt file involves
# Float32 data (FLOAT/REAL columns, arrow_cast to Float32, or the
# aggregate_test_100 fixture whose c11 column is Float32). Files with no
# f32 surface get strict f64 comparison — see _values_equal.
_F32_FILE = True


def _values_equal(exp: str, act: str, code: str) -> bool:
    if exp == act:
        return True
    tk_e, tk_a = _ts_key(exp), _ts_key(act)
    if tk_e is not None and tk_a is not None:
        return _ts_keys_equal(tk_e, tk_a)
    if exp.startswith("{") and exp.endswith("}") and act.startswith("{") and (
        act.endswith("}")
    ):
        # struct cells: strip field names (reference names positionally c0,
        # c1, … while Spark propagates source names) and compare the field
        # VALUES element-wise so numeric tolerance applies inside structs
        strip = lambda s: re.sub(  # noqa: E731
            r"([{,]\s*)[A-Za-z_][A-Za-z0-9_]*:\s*", r"\1", s
        )
        es = [e.strip() for e in _split_array_items(strip(exp)[1:-1])]
        as_ = [a.strip() for a in _split_array_items(strip(act)[1:-1])]
        return len(es) == len(as_) and all(
            _values_equal(e, a, "?") for e, a in zip(es, as_)
        )
    if exp.startswith("[") and exp.endswith("]") and act.startswith("[") and (
        act.endswith("]")
    ):
        # array cells: element-wise compare so numeric tolerance (f32
        # widening, trailing-zero scale) applies inside containers too
        es = [e.strip() for e in _split_array_items(exp[1:-1])]
        as_ = [a.strip() for a in _split_array_items(act[1:-1])]
        return len(es) == len(as_) and all(
            _values_equal(e, a, "?") for e, a in zip(es, as_)
        )
    if code == "I":
        # exact integer compare first — float() would collapse int64
        # values beyond 2^53 that differ by < rel_tol*|v|
        try:
            return int(exp) == int(act)
        except ValueError:
            pass  # non-integral cell (e.g. a float in an I column)
    if code in ("R", "I", "?"):  # numeric compare absorbs formatting diffs
        try:
            e, a = float(exp), float(act)
            if math.isnan(e) and math.isnan(a):
                return True
            if math.isclose(e, a, rel_tol=1e-10, abs_tol=1e-12):
                return True
            # Float32 widening policy (§1.2): the reference computes and
            # displays f32 columns at f32 precision (shortest round-trip,
            # ≤9 significant digits); this engine widens to f64. When the
            # EXPECTED cell carries ≤9 significant digits, equality at f32
            # granularity is exactly "the same f32 value". Gated on the
            # FILE actually involving Float32 columns (_F32_FILE, set by
            # run_slt_file) so genuine f64 divergences in f32-free files
            # are not masked by the looser granularity.
            digits = exp.replace("-", "").replace(".", "").lstrip("0")
            if _F32_FILE and len(digits) <= 9 and "e" not in exp.lower():
                import struct

                as_f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]  # noqa: E731
                return as_f32(e) == as_f32(a)
            return False
        except ValueError:
            return False
    return False


def _rows_to_lines(rows, codes: str) -> list[str]:
    out = []
    for row in rows:
        cells = [
            _norm_cell(v, codes[i] if i < len(codes) else "?")
            for i, v in enumerate(row)
        ]
        out.append(" ".join(cells))
    return out


# Arrow-vs-Spark type display names: a mismatch where BOTH sides print a
# TYPE NAME is a type-system divergence (e.g. DataFusion types bare integer
# literals Int64 where Spark uses Int32, and decimal literals differ) — a
# documented §1.2 difference, not a wrong result.
_ARROW_TYPE_RE = re.compile(
    r"^(Int(8|16|32|64)|UInt\d+|Float(16|32|64)|Utf8(View)?|LargeUtf8|Boolean|"
    r"Binary|LargeBinary|Date(32|64)|Time(32|64)\(.*|Timestamp\(.*|"
    r"Decimal\d*\(.*|List\(.*|LargeList\(.*|FixedSizeList\(.*|Struct\(.*|"
    r"Dictionary\(.*|Map\(.*|Null|Interval\(.*|Duration\(.*)$"
)
_SPARK_TYPE_RE = re.compile(
    r"^(tinyint|smallint|int|bigint|float|double|string|boolean|binary|date|"
    r"timestamp(_ntz)?|decimal\(\d+,-?\d+\)|array<.*|struct<.*|map<.*|void|"
    r"interval.*|Int(8|16|32|64)|Float(32|64)|Utf8|Boolean|Binary|Date32|"
    r"Timestamp\(.*|Null)$"
)


def _arrow_type_family(t: str) -> str | None:
    """Coarse family of an Arrow type display name, for the documented
    §1.2 coercion-divergence whitelist below."""
    if re.fullmatch(r"U?Int(8|16|32|64)", t):
        return "int"
    if re.fullmatch(r"Float(16|32|64)", t):
        return "float"
    if t.startswith("Decimal"):
        return "decimal"
    if t in ("Utf8", "LargeUtf8", "Utf8View"):
        return "utf8"
    if t.startswith("Dictionary("):
        # dictionary is an ENCODING: Dictionary(K, V) is logically V —
        # Spark has no dictionary type, so compare as the value type's
        # family (e.g. Dictionary(Int64, Int32) vs Int32 is documented)
        inner = t[len("Dictionary(") : -1]
        value = inner.split(",", 1)[1].strip() if "," in inner else inner
        return _arrow_type_family(value)
    if t.startswith("Timestamp("):
        return "timestamp"
    if t.startswith(("Time32(", "Time64(")):
        return "time"
    if t in ("Date32", "Date64"):
        return "date"
    if t.startswith(("List(", "LargeList(", "FixedSizeList(")):
        return "list"
    if t.startswith(("Interval(", "Duration(")):
        return "interval"
    if t in ("Binary", "LargeBinary", "BinaryView"):
        return "binary"
    return None


# Arrow-name pairs that the §1.2 policies actually document as coercion
# divergences (literal/width typing, unsigned widening, f32→f64 widening,
# ns→µs truncation, Large*/FixedSize* container flavors, decimal-vs-float
# result typing for avg/division). ANY other Arrow-vs-Arrow mismatch —
# e.g. Int64 vs Float64 from a broken coercion — is a genuine failure.
_COERCION_FAMILY_OK = {
    ("int", "int"),
    ("float", "float"),
    ("utf8", "utf8"),
    ("timestamp", "timestamp"),
    ("time", "time"),
    ("date", "date"),
    ("list", "list"),
    ("interval", "interval"),
    ("decimal", "decimal"),
    ("float", "decimal"),
    ("decimal", "float"),
    ("binary", "binary"),
}


def _is_type_divergence(ev: str, av: str) -> bool:
    # expected Arrow name vs our Spark name — display divergence; OR two
    # DIFFERENT Arrow names from a WHITELISTED coercion family pair (e.g.
    # avg(decimal) is Float64 in the reference, DECIMAL in Spark) — a
    # documented §1.2 coercion-rule divergence. Arrow-vs-Arrow mismatches
    # outside the whitelist (e.g. Int64 vs Float64) fail. Value cells
    # still compare strictly either way.
    if not _ARROW_TYPE_RE.match(ev):
        return False
    if _ARROW_TYPE_RE.match(av):
        return (_arrow_type_family(ev), _arrow_type_family(av)) in (
            _COERCION_FAMILY_OK
        )
    return bool(_SPARK_TYPE_RE.match(av))


def _split_array_items(s: str) -> list[str]:
    """Split an array cell's interior on top-level commas."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


def _split_outside_parens(line: str) -> list[str]:
    """Split a result line on spaces at paren/bracket depth 0 — keeps
    parameterized type names like ``Timestamp(Microsecond, None)`` whole."""
    out, depth, cur = [], 0, []
    for ch in line:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == " " and depth == 0:
            if cur:
                out.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


_ORDER_BY = r"\bORDER\s+BY\b"


def _has_top_level_order_by(sql: str) -> bool:
    """True iff ORDER BY appears at paren depth 0 (i.e. orders the final
    result, not a window spec / subquery / aggregate argument)."""
    return next(top_level(lex(sql).text, _ORDER_BY), None) is not None


def _norm_interval_arrays(line: str) -> str | None:
    """Replace every ``[elem, elem, …]`` span whose elements ALL parse as
    intervals with a canonical seconds form; None when the line has no
    such span (caller falls through to the other comparisons)."""
    changed = False

    def norm(m: re.Match) -> str:
        nonlocal changed
        parts = [p.strip() for p in m.group(1).split(",")] if m.group(1).strip() else []
        secs = [None if p == "" else _parse_interval(p) for p in parts]
        # every element must be a NULL (rendered empty in containers) or an
        # interval, and at least one must be an interval — otherwise this
        # bracketed span isn't an interval array at all
        if (
            parts
            and all(p == "" or s is not None for p, s in zip(parts, secs))
            and any(s is not None for s in secs)
        ):
            changed = True
            return "[" + ", ".join("NULL" if s is None else f"{s:.9f}" for s in secs) + "]"
        return m.group(0)

    out = re.sub(r"\[([^\[\]]*)\]", norm, line)
    return out if changed else None


def _norm_expr(e: str) -> str:
    return re.sub(r"\s+", " ", e.strip().lower())


def _order_by_output_positions(sql: str, ncols: int) -> list[int] | None:
    """Output column indexes (0-based) that the top-level ORDER BY
    constrains. ORDER BY items naming non-output expressions are ignored
    (they constrain nothing visible — the tie source). None = unparseable.
    """
    lx = lex(sql)
    sql = lx.text

    def first(keyword: str, start: int = 0) -> re.Match | None:
        return next(top_level(sql, keyword, start), None)

    def parts(text: str) -> list[str]:
        return [p for p in (lx.unshield(p).strip() for p in split(text)) if p]

    ob, sel, frm = first(_ORDER_BY), first(r"\bSELECT\b"), first(r"\bFROM\b")
    if not ob or not sel:
        return None
    sel_end = frm.start() if frm and frm.start() > sel.end() else ob.start()
    items = parts(sql[sel.end() : sel_end])
    if len(items) != ncols or any(
        re.fullmatch(r"(?:[A-Za-z_][A-Za-z0-9_]*\.)?\*", it) for it in items
    ):
        return None
    # each select item → (normalized expr, alias or trailing identifier)
    cols: list[tuple[str, str | None]] = []
    for it in items:
        m = re.match(r"(.*?)\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*$", it, re.IGNORECASE | re.DOTALL)
        expr, alias = (m.group(1), m.group(2)) if m and _norm_expr(m.group(1)) else (it, None)
        # a bare column reference is its own alias ("t2.a" → a)
        bare = re.fullmatch(r"(?:[A-Za-z_][A-Za-z0-9_]*\.)?([A-Za-z_][A-Za-z0-9_]*)", it.strip())
        cols.append((_norm_expr(expr if alias else it), (alias or (bare.group(1) if bare else None) or "").lower() or None))
    lim = first(r"\b(?:LIMIT|OFFSET)\b", ob.end())
    ob_items = parts(sql[ob.end() : lim.start() if lim else len(sql)])
    positions: list[int] = []
    for item in ob_items:
        item = re.sub(
            r"\s+(ASC|DESC|NULLS\s+FIRST|NULLS\s+LAST)\s*$", "", item.strip(), flags=re.IGNORECASE
        )
        item = re.sub(r"\s+(ASC|DESC)\s*$", "", item, flags=re.IGNORECASE)
        if re.fullmatch(r"\d+", item):
            p = int(item) - 1
            if 0 <= p < ncols:
                positions.append(p)
            continue
        ni = _norm_expr(item)
        base = re.fullmatch(r"(?:[A-Za-z_][A-Za-z0-9_]*\.)?([A-Za-z_][A-Za-z0-9_]*)", item)
        for i, (expr, alias) in enumerate(cols):
            if ni == expr or (alias and (ni == alias or (base and base.group(1).lower() == alias))):
                positions.append(i)
                break
        # unmatched: orders on a non-output expression — ignore
    # no ORDER BY item maps to an output column → nothing is verifiable
    # cell-for-cell; callers must NOT treat that as "everything ties"
    return positions if positions else None


def _tie_order_equivalent(rec: Record, rows) -> bool:
    """True when expected and actual agree on every output column the
    top-level ORDER BY constrains (cell-for-cell, same row count) — the
    remaining differences are then tie-order picks inside equal sort keys,
    which the reference's golden cannot pin for another engine."""
    ncols = len(rec.type_codes)
    positions = _order_by_output_positions(rec.sql, ncols)
    if not positions:
        return False
    actual = _rows_to_lines(rows, rec.type_codes)
    expected = list(rec.expected)
    if len(actual) != len(expected):
        return False
    esplit, asplit = [], []
    for eline, aline in zip(expected, actual):
        evs, avs = eline.split(), aline.split()
        if len(evs) != ncols or len(avs) != ncols:
            return False
        for p in positions:
            code = rec.type_codes[p] if p < len(rec.type_codes) else "?"
            if not _values_equal(evs[p], avs[p], code):
                return False
        esplit.append(evs)
        asplit.append(avs)
    # Unconstrained columns may only differ through row SELECTION at the
    # LIMIT cut, and only the final tie group straddles that cut — every
    # interior tie group is fully present in both results, so its full-row
    # multiset must agree or the divergence is real value corruption.
    groups: list[tuple[int, int]] = []
    start = 0
    for i in range(1, len(esplit)):
        if [esplit[i][p] for p in positions] != [esplit[start][p] for p in positions]:
            groups.append((start, i))
            start = i
    groups.append((start, len(esplit)))
    for lo, hi in groups[:-1]:
        for evs, avs in zip(
            sorted(esplit[lo:hi]), sorted(asplit[lo:hi])
        ):
            for ci in range(ncols):
                code = rec.type_codes[ci] if ci < len(rec.type_codes) else "?"
                if not _values_equal(evs[ci], avs[ci], code):
                    return False
    return True


def _compare_query(rec: Record, rows) -> str | None:
    """None = pass; "hash-form"/"type-divergence" = classified skip;
    other string = failure description."""
    actual = _rows_to_lines(rows, rec.type_codes)
    expected = list(rec.expected)
    # hash form ("N values hashing to ...") can't be checked cross-engine
    if len(expected) == 1 and "values hashing to" in expected[0]:
        return "hash-form"
    # a single all-empty row (e.g. decode('','base64') → empty binary →
    # empty hex display) prints as a blank line in the reference harness,
    # which the slt parser then eats — the golden block has ZERO lines
    # (strictly blank only: an empty STRING renders "(empty)", which the
    # golden would show — a blank actual line can only be empty binary)
    if not expected and len(actual) == 1 and actual[0].strip() == "":
        return None
    if rec.sort_mode == "rowsort":
        actual = sorted(actual)
        expected = sorted(expected)
    elif rec.sort_mode == "valuesort":
        actual = sorted(v for line in actual for v in line.split())
        expected = sorted(v for line in expected for v in line.split())
        if actual == expected:
            return None
        return f"valuesort mismatch\n  exp: {expected}\n  got: {actual}"
    if len(actual) != len(expected):
        return f"row count differs: expected {len(expected)}, got {len(actual)}"
    codes = rec.type_codes
    saw_type_divergence = False
    for ei, (eline, aline) in enumerate(zip(expected, actual)):
        if eline == aline:
            continue
        # interval lines: display forms differ per arrow interval type
        # (MonthDayNano vs DayTime vs Duration) — compare the VALUE
        ei_secs, ai_secs = _parse_interval(eline), _parse_interval(aline)
        if ei_secs is not None and ai_secs is not None:
            if math.isclose(ei_secs, ai_secs, rel_tol=1e-9, abs_tol=1e-6):
                continue
            return f"line {ei}: interval differs\n  exp: {eline}\n  got: {aline}"
        # interval ARRAYS: per-element Display forms differ the same way
        # scalar intervals do (Duration "0 days 0.011 secs" vs our
        # "0 years 0 mons … 0.011000000 secs") — normalize each bracketed
        # element that parses as an interval to seconds and re-compare
        if "[" in eline and "[" in aline:
            en, an = _norm_interval_arrays(eline), _norm_interval_arrays(aline)
            if en is not None and en == an:
                continue
        # struct lines: the reference names struct() fields positionally
        # (c0, c1, …) while Spark propagates source column names — compare
        # with the field names stripped
        if "{" in eline and "{" in aline:
            strip = lambda s: re.sub(r"([{,]\s*)[A-Za-z_][A-Za-z0-9_]*:\s*", r"\1", s)  # noqa: E731
            if strip(eline) == strip(aline):
                continue
        # lines of parenthesized TYPE NAMES (arrow_typeof output) split on
        # inner spaces ("Timestamp(Microsecond, None)" is two tokens) —
        # compare them cell-wise at paren depth 0 first
        eps, aps = _split_outside_parens(eline), _split_outside_parens(aline)
        if len(eps) == len(aps) and any(
            ch in c for c in eps + aps for ch in "([{"
        ):
            tdiv = [False]

            def cell_ok(ev: str, av: str) -> bool:
                if ev == av or _values_equal(ev, av, "?"):
                    return True
                if _is_type_divergence(ev, av):
                    tdiv[0] = True
                    return True
                return False

            if all(cell_ok(ev, av) for ev, av in zip(eps, aps)):
                if tdiv[0]:
                    saw_type_divergence = True
                continue
        evs, avs = eline.split(), aline.split()
        if len(evs) != len(avs):
            # multi-word cells (parameterized type names like
            # "Decimal128(7, 2)" or "List(Field { .. })" from arrow_typeof)
            # break token counts. Common shape: leading value cells match
            # and the REMAINDER on both sides is a type name → divergence.
            k = 0
            while k < min(len(evs), len(avs)) and evs[k] == avs[k]:
                k += 1
            j = 0
            while (
                j < min(len(evs), len(avs)) - k
                and evs[len(evs) - 1 - j] == avs[len(avs) - 1 - j]
            ):
                j += 1
            etail = " ".join(evs[k : len(evs) - j])
            atail = " ".join(avs[k : len(avs) - j])
            if etail and atail and _is_type_divergence(etail, atail):
                saw_type_divergence = True
                continue
            # interval Display forms differ in component count (ours
            # prints every unit incl. "-0 days"; arrow omits leading
            # zeros) — find the split where both tails parse as intervals
            # with identical value (leading cells must match exactly)
            if any(
                evs[:p] == avs[:p]
                and (es := _parse_interval(" ".join(evs[p:]))) is not None
                and (as_ := _parse_interval(" ".join(avs[p:]))) is not None
                and math.isclose(es, as_, rel_tol=1e-9, abs_tol=1e-6)
                for p in range(k + 1)
            ):
                continue
            return f"line {ei}: differs\n  exp: {eline}\n  got: {aline}"
        for ci, (ev, av) in enumerate(zip(evs, avs)):
            code = codes[ci] if ci < len(codes) else "?"
            if _values_equal(ev, av, code):
                continue
            if _is_type_divergence(ev, av):
                saw_type_divergence = True
                continue
            return f"line {ei}: cell {ci} differs\n  exp: {eline}\n  got: {aline}"
    return "type-divergence" if saw_type_divergence else None


def _slt_base_dir(path: str) -> str | None:
    """The reference runs its slt harness with cwd = the sqllogictest crate
    root, so relative LOCATIONs like '../../testing/data/...' resolve
    against the PARENT of the test_files dir the .slt file lives in."""
    import os as _os

    parts = _os.path.abspath(path).split(_os.sep)
    if "test_files" in parts:
        return _os.sep.join(parts[: parts.index("test_files")])
    return _os.path.dirname(_os.path.abspath(path)) or None


def _resolve_rel_paths(sql: str, base_dir: str | None) -> str:
    """Anchor relative LOCATION/COPY-TO paths at ``base_dir`` — EXCEPT
    'test_files/scratch/...' outputs, which stay cwd-relative so the
    runner writes scratch files into the repo's own (gitignored) scratch
    dir instead of the read-only reference tree."""
    if base_dir is None:
        return sql

    # TO '<path>' only appears in COPY statements — rewriting TO in other
    # statements would mangle SET ... TO '<value>' assignments
    lx = lex(sql)
    if lx.head(1) not in (("COPY",), ("CREATE",)):
        return sql

    def fix(m: "re.Match[str]") -> str:
        p = lx.string(m.group(2))
        if not p or p.startswith(("/", "file:", "s3", "hdfs:")) or p.startswith(
            "test_files/scratch"
        ):
            return m.group(0)
        import os as _os

        full = _os.path.normpath(_os.path.join(base_dir, p))
        if not _os.path.exists(full) and "/parquet-testing/data/" in full:
            alt = _os.path.join(
                _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
                "tests", "fixtures", "parquet_gen", _os.path.basename(full),
            )
            if _os.path.exists(alt):
                full = alt
        if (
            not _os.path.isfile(full)
            and "/test_files/tpch/data/" in full.replace(_os.sep, "/")
        ):
            # the reference's tpch/*.slt goldens read dbgen .tbl CSVs the
            # repo doesn't ship (its data/ dir is an empty placeholder) —
            # tests/tpch_tbl.py regenerates byte-equivalent SF0.1 tables
            # (duckdb's tpch extension is a faithful dbgen port; q1-q22
            # golden answers match); substitute the generated copy
            alt = _os.path.join(
                _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
                "tests", "fixtures", "tpch_tbl", _os.path.basename(full),
            )
            if _os.path.exists(alt):
                full = alt
        if not _os.path.exists(full) and "/testing/data/avro/" in full:
            # the reference's `testing` submodule is not checked out —
            # tests/avro_fixtures.py re-materializes these files (same
            # rows/schemas/codecs, reconstructed from the reference's own
            # expected outputs); substitute the generated copy
            alt = _os.path.join(
                _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
                "tests", "fixtures", "avro_gen", _os.path.basename(full),
            )
            if _os.path.exists(alt):
                full = alt
        if not _os.path.exists(full) and _os.path.basename(full) == (
            "aggregate_test_100.csv"
        ):
            # the reference vendors this 100-row fixture via its `testing`
            # submodule (not present here); core/tests/data ships the SAME
            # rows sorted by c1 — row SET is identical, so every ORDER BY
            # query agrees and natural-order records fall to rowsort
            alt = _os.path.normpath(
                _os.path.join(
                    base_dir,
                    "../core/tests/data/aggregate_test_100_order_by_c1_asc.csv",
                )
            )
            if _os.path.exists(alt):
                full = alt
        return m.group(1) + lx.add(quote(full))

    return lx.written(
        re.sub(rf"((?:LOCATION|TO)\s+)({LIT})", fix, lx.text, flags=re.IGNORECASE)
    )


def _expand_includes(text: str, base_dir: str, depth: int = 0) -> str:
    """``include <path-or-glob>`` directive (the reference harness's
    composition mechanism — tpch/tpch.slt is three includes over
    create_tables / q*.slt.part / drop_tables). Globs expand in sorted
    order; includes nest (bounded) and resolve relative to the including
    file's directory."""
    if depth > 8:
        raise ValueError("include nesting too deep (cycle?)")
    import glob as _glob

    out: list[str] = []
    for line in text.splitlines():
        m = re.match(r"\s*include\s+(\S+)\s*$", line)
        if not m:
            out.append(line)
            continue
        pat = os.path.normpath(os.path.join(base_dir, m.group(1)))
        files = sorted(_glob.glob(pat))
        if not files:
            raise FileNotFoundError(f"include matched no files: {m.group(1)!r}")
        for f in files:
            with open(f) as fh:
                out.append(
                    _expand_includes(fh.read(), os.path.dirname(f), depth + 1)
                )
            # expected blocks terminate at a BLANK line — a file ending
            # flush on its last expected row must not leak the next
            # file's header into that block
            out.append("")
    return "\n".join(out)


def run_slt_file(
    ctx, path: str, stop_on_fail: bool = False, isolate: bool = True
) -> SltReport:
    """Execute one .slt file against a SessionContext.

    ``isolate`` runs the file inside its own database (slt files re-use
    table names like ``t1`` across files; managed tables would otherwise
    collide and leave warehouse residue across runs)."""
    with open(path) as f:
        text = f.read()
    text = _expand_includes(text, os.path.dirname(os.path.abspath(path)))
    records = parse_slt(text)
    global _F32_FILE
    # f32-comparison gate: type keywords case-insensitive (files declare
    # 'float'/'real' in either case); the c11-column trigger only fires in
    # files that actually load the aggregate_test_100 fixture (ADVICE r6)
    _F32_FILE = bool(
        re.search(r"Float32|\bFLOAT\b|\bREAL\b", text, re.IGNORECASE)
        or "aggregate_test_100" in text  # fixture's c11 is Float32
    )
    base = _slt_base_dir(path)
    for rec in records:
        rec.sql = _resolve_rel_paths(rec.sql, base)
    rep = SltReport(path)
    # directory COPY targets APPEND files (reference semantics) — start
    # each file run from a clean per-file scratch dir (the reference
    # harness does the same for its test_files/scratch/<stem> convention)
    import shutil as _shutil

    stem = path.rsplit("/", 1)[-1].removesuffix(".slt")
    _shutil.rmtree(os.path.join("test_files", "scratch", stem), ignore_errors=True)
    # settings-mapped Spark confs a file may change via SET (settings.py
    # _apply): snapshot and restore so one file's SET (e.g. batch_size=1,
    # target_partitions=3) can't bleed into every later file on the shared
    # session
    _MAPPED_CONFS = (
        "spark.sql.shuffle.partitions",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.join.preferSortMergeJoin",
        "spark.sql.parquet.compression.codec",
    )
    conf_before = {}
    for k in _MAPPED_CONFS:
        try:
            conf_before[k] = ctx.spark.conf.get(k)
        except Exception:
            conf_before[k] = None
    db = None
    views_before: set[str] = set()
    dbs_before: set[str] = set()
    if isolate:
        import re as _re

        db = "slt_" + _re.sub(r"\W", "_", path.rsplit("/", 1)[-1])
        ctx.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        # a file that CREATEs databases/schemas (e.g.
        # information_schema_multiple_catalogs.slt) must start clean even
        # when a previous crashed run left them in the warehouse — pre-drop
        # every database name the file is about to create, then drop
        # whatever the run materialized afterwards (snapshot diff)
        for m in _re.finditer(
            r"create\s+(?:database|schema)\s+(?:if\s+not\s+exists\s+)?"
            r"([A-Za-z_][\w.]*)",
            text,
            _re.IGNORECASE,
        ):
            first = m.group(1).split(".")[0]
            if first.lower() not in ("default", db.lower()):
                try:
                    ctx.spark.sql(f"DROP DATABASE IF EXISTS `{first}` CASCADE")
                except Exception:
                    pass
        dbs_before = {d.name for d in ctx.spark.catalog.listDatabases()}
        ctx.spark.sql(f"CREATE DATABASE {db}")
        ctx.spark.sql(f"USE {db}")
        # temp views are SESSION-global (they ignore USE database): a
        # fixture like `test` registered by one file would leak into the
        # next file's identically-named CREATE EXTERNAL TABLE
        views_before = {
            t.name for t in ctx.spark.catalog.listTables() if t.tableType == "TEMPORARY"
        }
    try:
        _run_records(ctx, records, rep, stop_on_fail)
    finally:
        for k, v in conf_before.items():
            try:
                if v is None:
                    ctx.spark.conf.unset(k)
                else:
                    ctx.spark.conf.set(k, v)
            except Exception:
                pass
        if db:
            for t in ctx.spark.catalog.listTables():
                if t.tableType == "TEMPORARY" and t.name not in views_before:
                    ctx.spark.catalog.dropTempView(t.name)
            ctx.spark.sql("USE default")
            ctx.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            # drop any database the FILE created (CREATE DATABASE/SCHEMA
            # statements inside the corpus) so runs leave no warehouse
            # residue and later files/runs see a clean catalog
            try:
                for d in ctx.spark.catalog.listDatabases():
                    if d.name not in dbs_before and d.name != "default":
                        ctx.spark.sql(
                            f"DROP DATABASE IF EXISTS `{d.name}` CASCADE"
                        )
            except Exception:
                pass
    return rep


# Per-record wall-clock bound. Normal records finish in ~0.1 s; the bound
# exists ONLY for pathological records (e.g. a runaway recursive CTE the
# reference rejects at plan time but we detect at iteration time), so its
# value trades pathological-case latency against FALSE "unrunnable" skips
# on a heavily loaded box: with several competing local[32] JVMs, GC +
# scheduler stalls pushed 3 ordinary timestamps.slt records past 60 s in
# one r14 run and the file's pass floor flaked. 150 s keeps the runaway
# bound while putting ~2.5 min of stall headroom between box load and a
# spurious floor miss.
_RECORD_TIMEOUT_S = 150


def _run_records(ctx, records, rep: SltReport, stop_on_fail: bool) -> None:
    import threading

    sc = ctx.spark.sparkContext

    def run_bounded(fn):
        """Run one record's execution with a wall-clock bound: a
        pathological record (e.g. a runaway recursive CTE the reference
        REJECTS at plan time but we detect at iteration time) must not
        stall the whole corpus — cancel its job group and count a skip."""
        sc.setJobGroup("slt-record", "sqllogictest record", True)
        t = threading.Timer(
            _RECORD_TIMEOUT_S, lambda: sc.cancelJobGroup("slt-record")
        )
        t.start()
        try:
            return fn()
        finally:
            t.cancel()

    for rec in records:
        if rec.kind == "statement_error":
            try:
                run_bounded(lambda: ctx.sql(rec.sql).collect())
                rep.divergences += 1  # we accept what the reference rejects
                rep.divnotes.append(f"{rec.line}: stmt-error accepted: {rec.sql!r}"[:300])
            except Exception:
                rep.passed += 1
            continue
        if rec.kind == "statement_ok":
            try:

                def _stmt():
                    df = ctx.sql(rec.sql)
                    if df is not None:
                        df.collect()

                run_bounded(_stmt)
                rep.passed += 1
            except Exception as exc:  # unsupported statement form
                rep.skipped += 1
                rep.skips.append(f"{rec.line}: stmt {rec.sql!r}: {exc}"[:500])
            continue
        # query record
        if re.match(r"\s*EXPLAIN\b", rec.sql, re.IGNORECASE):
            rep.skipped += 1  # plan text is engine-specific by definition
            rep.skips.append(f"{rec.line}: EXPLAIN (plan text engine-specific)")
            continue
        if re.match(r"\s*SHOW\s+CREATE\s+TABLE\b", rec.sql, re.IGNORECASE):
            # catalog-row display (catalog/schema names, DDL text) is
            # engine-specific like EXPLAIN output
            rep.skipped += 1
            rep.skips.append(f"{rec.line}: SHOW CREATE TABLE (engine-specific)")
            continue
        try:
            rows = run_bounded(
                lambda: [
                    tuple(r) for r in _map_order_safe(ctx.sql(rec.sql)).collect()
                ]
            )
        except Exception as exc:
            rep.skipped += 1
            rep.skips.append(f"{rec.line}: query {rec.sql!r}: {exc}"[:500])
            continue
        verdict = _compare_query(rec, rows)
        if (
            verdict not in (None, "hash-form", "type-divergence")
            and rec.sort_mode is None
            and len(rec.expected) > 1
            and not _has_top_level_order_by(rec.sql)
        ):
            # ORDER BY inside an aggregate/window call (FIRST_VALUE(c
            # ORDER BY …), ARRAY_AGG(x ORDER BY …)) does NOT order the
            # result rows — only a top-level ORDER BY disables the
            # multiset fallback
            # no ORDER BY and no sort directive: the expected block encodes
            # the reference's natural (insertion/scan) order, which no other
            # engine can promise — compare as a multiset instead
            rec2 = Record(
                rec.kind, rec.sql, rec.line, rec.type_codes, "rowsort", rec.expected
            )
            verdict = _compare_query(rec2, rows)
        if (
            verdict not in (None, "hash-form", "type-divergence")
            and re.search(r"\b(LIMIT|OFFSET)\b", rec.sql, re.IGNORECASE)
            and not _has_top_level_order_by(rec.sql)
        ):
            # LIMIT without a top-level ORDER BY: the selected row SET
            # itself is engine-order-dependent (the reference takes the
            # first N rows of ITS physical order) — a documented
            # divergence, not a wrong result
            rep.divergences += 1
            rep.divnotes.append(f"{rec.line}: LIMIT w/o top-level ORDER BY: {rec.sql!r}"[:300])
            continue
        if (
            verdict not in (None, "hash-form", "type-divergence")
            and re.search(r"\bLIMIT\b", rec.sql, re.IGNORECASE)
            and _has_top_level_order_by(rec.sql)
            and _tie_order_equivalent(rec, rows)
        ):
            # Top-level ORDER BY whose sort key does not uniquely determine
            # the row set at the LIMIT boundary (e.g. join.slt's
            # "ORDER BY a2, t2.b LIMIT 5" where t1's columns tie): the
            # golden encodes the reference's physical tie order, which no
            # other engine (nor another run of ours — partition order
            # varies) can promise. Accept only when every output column the
            # ORDER BY constrains matches cell-for-cell.
            rep.divergences += 1
            rep.divnotes.append(f"{rec.line}: ORDER BY tie at LIMIT: {rec.sql!r}"[:300])
            continue
        if verdict is None:
            rep.passed += 1
        elif verdict == "hash-form":
            rep.skipped += 1
        elif verdict == "type-divergence":
            rep.divergences += 1
            rep.divnotes.append(f"{rec.line}: type divergence: {rec.sql!r}"[:300])
        else:
            rep.failed += 1
            rep.failures.append(f"{rep.path}:{rec.line}: {rec.sql!r}\n{verdict}")
            if stop_on_fail:
                break
