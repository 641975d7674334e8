"""Scalar function layer: every DataFusion scalar function name mapped to an
idiomatic PySpark Column expression (JVM-side, codegen-friendly; only the
blake digests call a Python kernel, functions/kernels.py).

Reference registries mirrored (names + arities follow these):
- string:   datafusion/functions/src/string/mod.rs:48-73
- unicode:  datafusion/functions/src/unicode/mod.rs
- regex:    datafusion/functions/src/regex/mod.rs
- datetime: datafusion/functions/src/datetime/mod.rs:268-287
- math:     datafusion/functions/src/math/mod.rs:135-175
- core:     datafusion/functions/src/core/mod.rs
- crypto:   datafusion/functions/src/crypto/mod.rs, encoding/mod.rs
- array:    datafusion/functions-array/src/lib.rs:60-135

Usage: ``SCALAR["split_part"](col, F.lit("."), F.lit(2))`` — every entry takes
Columns (or python literals, coerced via lit) and returns a Column. Spark 4.1
has native builtins for nearly all of these; composites (date_bin,
to_timestamp_*, array_remove first-occurrence semantics, ...) are built from
builtin pieces so Catalyst still constant-folds and codegens them.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from arrow_datafusion_spark import typenames

__all__ = ["SCALAR", "FAMILIES"]


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def _locate(sub: Column, s: Column) -> Column:
    """locate with Column needle (F.locate only accepts a python str)."""
    return F.call_function("locate", sub, s)


# --------------------------------------------------------------------------
# string (datafusion/functions/src/string/mod.rs:48-73)

STRING: dict[str, Callable[..., Column]] = {
    "ascii": lambda s: F.ascii(_c(s)),
    "bit_length": lambda s: F.bit_length(_c(s)),
    "btrim": lambda s, *t: F.btrim(_c(s), *[_c(x) for x in t]),
    # full Unicode code points (chr.rs) — Spark's char() wraps at 256;
    # Java's %c formats any code point incl. supplementary planes. NULL
    # guard matches the SQL-rewrite path: Java Formatter would print the
    # string 'null' for a NULL arg, the reference returns NULL (chr.rs).
    "chr": lambda n: F.when(_c(n).isNull(), F.lit(None)).otherwise(
        F.format_string("%c", _c(n).cast("int"))
    ),
    "concat": lambda *a: F.concat(*[_c(x) for x in a]),
    "concat_ws": lambda sep, *a: F.concat_ws(
        sep if isinstance(sep, str) else sep, *[_c(x) for x in a]
    ),
    "contains": lambda s, sub: F.contains(_c(s), _c(sub)),
    "ends_with": lambda s, suf: F.endswith(_c(s), _c(suf)),
    "initcap": lambda s: F.initcap(_c(s)),
    "levenshtein": lambda a, b: F.levenshtein(_c(a), _c(b)),
    "lower": lambda s: F.lower(_c(s)),
    "ltrim": lambda s, *t: F.ltrim(_c(s), *[_c(x) for x in t]),
    "octet_length": lambda s: F.octet_length(_c(s)),
    "overlay": lambda s, r, pos, *n: F.overlay(_c(s), _c(r), _c(pos), *[_c(x) for x in n]),
    "repeat": lambda s, n: F.repeat(_c(s), _c(n)),
    "replace": lambda s, a, b: F.replace(_c(s), _c(a), _c(b)),
    "rtrim": lambda s, *t: F.rtrim(_c(s), *[_c(x) for x in t]),
    "split_part": lambda s, d, n: F.split_part(_c(s), _c(d), _c(n)),
    "starts_with": lambda s, pre: F.startswith(_c(s), _c(pre)),
    "to_hex": lambda n: F.hex(_c(n)),
    "upper": lambda s: F.upper(_c(s)),
    "uuid": lambda: F.uuid(),
}


# --------------------------------------------------------------------------
# unicode (datafusion/functions/src/unicode/)

UNICODE: dict[str, Callable[..., Column]] = {
    "character_length": lambda s: F.char_length(_c(s)),
    "char_length": lambda s: F.char_length(_c(s)),
    "length": lambda s: F.char_length(_c(s)),
    "find_in_set": lambda s, lst: F.find_in_set(_c(s), _c(lst)),
    "left": lambda s, n: F.left(_c(s), _c(n)),
    "lpad": lambda s, n, *p: F.lpad(_c(s), _c(n), p[0] if p else " "),
    "reverse": lambda s: F.reverse(_c(s)),
    "right": lambda s, n: F.right(_c(s), _c(n)),
    "rpad": lambda s, n, *p: F.rpad(_c(s), _c(n), p[0] if p else " "),
    # DataFusion strpos(string, substring) — note Spark locate flips the args
    "strpos": lambda s, sub: _locate(_c(sub), _c(s)),
    "instr": lambda s, sub: _locate(_c(sub), _c(s)),
    "position": lambda sub, s: _locate(_c(sub), _c(s)),
    "substr": lambda s, pos, *n: F.substring(_c(s), _c(pos), _c(n[0]) if n else F.lit(2147483647)),
    "substring": lambda s, pos, *n: F.substring(_c(s), _c(pos), _c(n[0]) if n else F.lit(2147483647)),
    "substr_index": lambda s, d, n: F.substring_index(_c(s), d, n),
    "substring_index": lambda s, d, n: F.substring_index(_c(s), d, n),
    "translate": lambda s, frm, to: F.translate(_c(s), frm, to),
}


# --------------------------------------------------------------------------
# regex (datafusion/functions/src/regex/)

REGEX: dict[str, Callable[..., Column]] = {
    "regexp_like": lambda s, p, *flags: F.regexp_like(_c(s), _regex_flags(p, flags)),
    # DataFusion regexp_match returns the first match's capture LIST —
    # served exactly by the kernels.regexp_match UDF on the SQL surface;
    # the DataFrame registry keeps the scalar whole-match form (extract of
    # group 0), the common scalar use (match text).
    "regexp_match": lambda s, p, *flags: F.regexp_extract(_c(s), _pat(p, flags), 0),
    "regexp_replace": lambda s, p, r, *flags: F.regexp_replace(
        _c(s), _pat(p, flags), r if isinstance(r, str) else r
    ),
    "regexp_extract": lambda s, p, idx=0: F.regexp_extract(_c(s), p, idx),
    "regexp_extract_all": lambda s, p, *g: F.regexp_extract_all(
        _c(s), _c(p), _c(g[0]) if g else F.lit(0)
    ),
    "regexp_count": lambda s, p: F.regexp_count(_c(s), _c(p)),
}


def _pat(p, flags) -> str:
    """Fold PG-style regex flags ('i', ...) into the pattern."""
    if flags and "i" in str(flags[0]):
        return f"(?i){p}"
    return p


def _regex_flags(p, flags) -> Column:
    return F.lit(_pat(p, flags)) if isinstance(p, str) else _c(p)


# --------------------------------------------------------------------------
# datetime (datafusion/functions/src/datetime/mod.rs:268-287)

_US = {"second": 1_000_000, "minute": 60_000_000, "hour": 3_600_000_000,
       "day": 86_400_000_000}


def _date_bin(stride: str | Column, ts: Column, origin=None) -> Column:
    """date_bin(stride, ts, origin) — fixed-width time bucketing
    (datafusion/functions/src/datetime/date_bin.rs:44).

    Pure integer micro-arithmetic: floor((ts - origin) / stride) * stride +
    origin — stays inside whole-stage codegen; F.window is the streaming
    equivalent (SURVEY.md §2.10).

    ``stride`` is '<n> <unit>' (e.g. '15 minutes'); origin defaults to epoch.
    """
    n, unit = str(stride).strip().split()
    unit = unit.rstrip("s").lower()
    stride_us = int(n) * _US[unit]
    origin_c = (
        F.lit("1970-01-01 00:00:00").cast("timestamp") if origin is None else _c(origin)
    )
    us = F.unix_micros(_c(ts))
    ous = F.unix_micros(origin_c)
    return F.timestamp_micros(us - F.pmod(us - ous, F.lit(stride_us)))


DATETIME: dict[str, Callable[..., Column]] = {
    "current_date": lambda: F.current_date(),
    "current_time": lambda: F.date_format(F.current_timestamp(), "HH:mm:ss"),
    "now": lambda: F.current_timestamp(),
    "today": lambda: F.current_date(),
    "date_bin": _date_bin,
    "date_part": lambda part, ts: F.date_part(F.lit(part) if isinstance(part, str) else part, _c(ts)),
    "datepart": lambda part, ts: F.date_part(F.lit(part) if isinstance(part, str) else part, _c(ts)),
    "extract": lambda part, ts: F.date_part(F.lit(part) if isinstance(part, str) else part, _c(ts)),
    "date_trunc": lambda unit, ts: F.date_trunc(unit, _c(ts)),
    "datetrunc": lambda unit, ts: F.date_trunc(unit, _c(ts)),
    "from_unixtime": lambda n: F.timestamp_seconds(_c(n)),
    "make_date": lambda y, m, d: F.make_date(_c(y), _c(m), _c(d)),
    "to_char": lambda ts, fmt: F.date_format(_c(ts), fmt),
    "to_date": lambda s, *fmt: F.to_date(_c(s), *fmt),
    "to_unixtime": lambda ts: F.unix_timestamp(_c(ts)),
    "to_timestamp": lambda x, *fmt: (
        F.to_timestamp(_c(x), *fmt) if fmt else F.to_timestamp(_c(x))
    ),
    "to_timestamp_seconds": lambda n: F.timestamp_seconds(_c(n)),
    "to_timestamp_millis": lambda n: F.timestamp_millis(_c(n)),
    "to_timestamp_micros": lambda n: F.timestamp_micros(_c(n)),
    # decimal division: n/1000 through double would round ns values > 2^53
    # (~256 ns error — the same trap fixed for events.ts in session.py)
    "to_timestamp_nanos": lambda n: F.timestamp_micros(
        F.floor(_c(n).cast("decimal(38,0)") / 1000).cast("long")
    ),
}


# --------------------------------------------------------------------------
# math (datafusion/functions/src/math/mod.rs:135-175)

def _gcd(a, b) -> Column:
    """Euclid's algorithm as a bounded fold (no gcd builtin in Spark SQL).

    63 iterations is enough for any pair of int64s (worst case is consecutive
    Fibonacci numbers); the fold short-circuits via the b==0 branch and stays
    inside whole-stage codegen.
    """
    a = F.abs(_c(a).cast("long"))
    b = F.abs(_c(b).cast("long"))
    init = F.struct(a.alias("a"), b.alias("b"))
    res = F.aggregate(
        F.sequence(F.lit(1), F.lit(63)),
        init,
        lambda acc, _: F.when(acc.getField("b") == 0, acc).otherwise(
            F.struct(
                acc.getField("b").alias("a"),
                (acc.getField("a") % acc.getField("b")).alias("b"),
            )
        ),
    )
    return res.getField("a")


def _lcm(a, b) -> Column:
    g = _gcd(a, b)
    a = F.abs(_c(a).cast("long"))
    b = F.abs(_c(b).cast("long"))
    return F.when(g == 0, F.lit(0).cast("long")).otherwise((a / g).cast("long") * b)


def _trunc(x, *scale) -> Column:
    """Truncate toward zero (Spark's trunc is date-only)."""
    c = _c(x)
    if scale:
        m = F.pow(F.lit(10.0), _c(scale[0]))
        c = c * m
        return (F.when(c >= 0, F.floor(c)).otherwise(F.ceil(c))) / m
    return F.when(c >= 0, F.floor(c)).otherwise(F.ceil(c)).cast("double")


MATH: dict[str, Callable[..., Column]] = {
    "abs": lambda x: F.abs(_c(x)),
    "acos": lambda x: F.acos(_c(x)),
    "acosh": lambda x: F.acosh(_c(x)),
    "asin": lambda x: F.asin(_c(x)),
    "asinh": lambda x: F.asinh(_c(x)),
    "atan": lambda x: F.atan(_c(x)),
    "atanh": lambda x: F.atanh(_c(x)),
    "atan2": lambda y, x: F.atan2(_c(y), _c(x)),
    "cbrt": lambda x: F.cbrt(_c(x)),
    "ceil": lambda x: F.ceil(_c(x)),
    "cos": lambda x: F.cos(_c(x)),
    "cosh": lambda x: F.cosh(_c(x)),
    "cot": lambda x: F.cot(_c(x)),
    "degrees": lambda x: F.degrees(_c(x)),
    "exp": lambda x: F.exp(_c(x)),
    "factorial": lambda x: F.factorial(_c(x)),
    "floor": lambda x: F.floor(_c(x)),
    "gcd": _gcd,
    "isnan": lambda x: F.isnan(_c(x)),
    "iszero": lambda x: _c(x) == F.lit(0.0),
    "lcm": _lcm,
    "ln": lambda x: F.log(_c(x)),
    "log": lambda *a: F.log10(_c(a[0])) if len(a) == 1 else F.log(_c(a[0]), _c(a[1])),
    "log2": lambda x: F.log2(_c(x)),
    "log10": lambda x: F.log10(_c(x)),
    "nanvl": lambda x, y: F.nanvl(_c(x), _c(y)),
    "pi": lambda: F.lit(3.141592653589793),
    "power": lambda x, y: F.pow(_c(x), _c(y)),
    "pow": lambda x, y: F.pow(_c(x), _c(y)),
    "radians": lambda x: F.radians(_c(x)),
    "random": lambda: F.rand(),
    "round": lambda x, *s: F.round(_c(x), *[int(v) if not isinstance(v, Column) else v for v in s]),
    "signum": lambda x: F.signum(_c(x)),
    "sin": lambda x: F.sin(_c(x)),
    "sinh": lambda x: F.sinh(_c(x)),
    "sqrt": lambda x: F.sqrt(_c(x)),
    "tan": lambda x: F.tan(_c(x)),
    "tanh": lambda x: F.tanh(_c(x)),
    "trunc": _trunc,
}


# --------------------------------------------------------------------------
# core / conditional (datafusion/functions/src/core/)

def _arrow_cast(c, typename) -> Column:
    t = str(typename).strip().strip("'\"")
    factor = typenames.time_unit_ns(t)
    if factor is not None:
        return _c(c).cast("bigint") * F.lit(factor)
    return _c(c).cast(typenames.arrow_type(t) or t)


def _arrow_typeof(c) -> Column:
    t = F.typeof(_c(c))
    names = F.create_map(*[F.lit(x) for kv in typenames.ARROW_NAMES.items() for x in kv])
    return F.coalesce(
        F.element_at(names, t),
        F.regexp_replace(t, typenames.DECIMAL_NAME, typenames.DECIMAL_ARROW),
    )


CORE: dict[str, Callable[..., Column]] = {
    "coalesce": lambda *a: F.coalesce(*[_c(x) for x in a]),
    "nullif": lambda a, b: F.nullif(_c(a), _c(b)),
    "nvl": lambda a, b: F.nvl(_c(a), _c(b)),
    "ifnull": lambda a, b: F.nvl(_c(a), _c(b)),
    "nvl2": lambda a, b, c: F.nvl2(_c(a), _c(b), _c(c)),
    "struct": lambda *a: F.struct(*[_c(x) for x in a]),
    "named_struct": lambda *a: F.named_struct(*[_c(x) for x in a]),
    "get_field": lambda s, f: _c(s).getField(f if isinstance(f, str) else f),
    "arrow_cast": _arrow_cast,
    "arrow_typeof": _arrow_typeof,
}


# --------------------------------------------------------------------------
# crypto / encoding (datafusion/functions/src/crypto/, encoding/)

def _digest(c, algo) -> Column:
    a = str(algo).strip("'\"").lower()
    if a == "md5":
        return F.md5(_c(c))
    if a == "sha1":
        return F.sha1(_c(c))
    if a.startswith("sha"):
        return F.sha2(_c(c), int(a[3:]))
    if a in ("blake2b", "blake2s", "blake3"):
        # the Python kernels (functions/kernels.py)
        from arrow_datafusion_spark.functions import kernels

        if a == "blake3":
            return kernels.blake3(_c(c))
        return kernels.blake2(_c(c), F.lit(a))
    raise ValueError(f"unsupported digest algorithm: {algo}")


def _encode(c, fmt) -> Column:
    f = str(fmt).strip("'\"").lower()
    if f == "base64":
        # Spark's base64 emits MIME \r\n line breaks every 76 chars; standard
        # base64 (what the reference and DuckDB produce) is unchunked.
        return F.replace(F.base64(_c(c).cast("binary")), F.lit("\r\n"), F.lit(""))
    if f == "hex":
        return F.lower(F.hex(_c(c)))
    raise ValueError(f"unsupported encoding: {fmt}")


def _decode(c, fmt) -> Column:
    f = str(fmt).strip("'\"").lower()
    if f == "base64":
        return F.unbase64(_c(c))
    if f == "hex":
        return F.unhex(_c(c))
    raise ValueError(f"unsupported encoding: {fmt}")


CRYPTO: dict[str, Callable[..., Column]] = {
    "md5": lambda c: F.md5(_c(c)),
    "sha224": lambda c: F.sha2(_c(c), 224),
    "sha256": lambda c: F.sha2(_c(c), 256),
    "sha384": lambda c: F.sha2(_c(c), 384),
    "sha512": lambda c: F.sha2(_c(c), 512),
    "digest": _digest,
    "encode": _encode,
    "decode": _decode,
}


# --------------------------------------------------------------------------
# array (datafusion/functions-array/src/lib.rs:60-135) — DataFusion is
# 1-based / inclusive on positions and slices, matching Spark's slice/element_at.

def _array_remove_first_n(a, v, n) -> Column:
    """Remove the first n occurrences of v (array_remove/_n semantics —
    Spark's F.array_remove drops ALL occurrences, which is array_remove_all).

    Keep element x at index i unless x == v and the count of v among a[1..i+1]
    is still <= n (i.e. this is one of the first n occurrences).
    """
    a, v = _c(a), _c(v)
    tagged = F.transform(a, lambda x, i: F.struct(x.alias("x"), i.alias("i")))
    kept = F.filter(
        tagged,
        lambda s: (s.getField("x") != v)
        | s.getField("x").isNull()
        | (
            F.size(
                F.filter(
                    F.slice(a, 1, s.getField("i") + 1), lambda y: y == s.getField("x")
                )
            )
            > _c(n)
        ),
    )
    return F.transform(kept, lambda s: s.getField("x"))


def _array_replace_n(a, frm, to, n) -> Column:
    """Replace first n occurrences of frm with to."""
    a, frm, to = _c(a), _c(frm), _c(to)
    return F.transform(
        a,
        lambda x, i: F.when(
            (x == frm)
            & (F.size(F.filter(F.slice(a, 1, i + 1), lambda y: y == frm)) <= _c(n)),
            to,
        ).otherwise(x),
    )


def _array_slice(a, frm, to, *stride) -> Column:
    """DataFusion array_slice(a, from, to): 1-based inclusive ends."""
    a, frm, to = _c(a), _c(frm), _c(to)
    return F.slice(a, frm, to - frm + 1)


def _array_has(a, v) -> Column:
    """array_has: NULL for a NULL array input; otherwise false whenever no
    match — incl. NULL needle and arrays containing NULL (array.slt:4976
    expects false; Spark's array_contains yields NULL in both cases).
    Mirrors the SQL rewrite in context.py so both surfaces agree."""
    a = _c(a)
    return F.when(a.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.coalesce(F.array_contains(a, _c(v)), F.lit(False))
    )


def _array_position(a, v, *frm) -> Column:
    """array_position: NULL when not found (position.rs pushes None;
    Spark's returns 0) and an optional 1-based start index (3-arg form)."""
    a, v = _c(a), _c(v)
    if frm:
        f = _c(frm[0]).cast("int")
        sub = F.slice(a, f, F.greatest(F.size(a) - f + 1, F.lit(0)))
        return F.nullif(F.array_position(sub, v), F.lit(0)) + f - 1
    return F.nullif(F.array_position(a, v), F.lit(0))


def _array_positions(a, v) -> Column:
    a, v = _c(a), _c(v)
    return F.transform(
        F.filter(
            F.transform(a, lambda x, i: F.struct(x.alias("x"), (i + 1).alias("p"))),
            lambda s: s.getField("x") == v,
        ),
        lambda s: s.getField("p"),
    )


def _array_resize(a, size, *value) -> Column:
    a, size = _c(a), _c(size)
    fill = _c(value[0]) if value else F.lit(None)
    pad = F.transform(F.sequence(F.lit(1), F.greatest(size - F.size(a), F.lit(0))), lambda i: fill)
    return F.when(size <= F.size(a), F.slice(a, 1, size)).otherwise(F.concat(a, pad))


def _array_ndims(a) -> Column:
    # number of 'array<' nestings in the static type name
    t = F.typeof(_c(a))
    return (
        (F.char_length(t) - F.char_length(F.replace(t, F.lit("array<"), F.lit(""))))
        / F.lit(6)
    ).cast("int")


ARRAY: dict[str, Callable[..., Column]] = {
    "make_array": lambda *a: F.array(*[_c(x) for x in a]),
    "array_append": lambda a, v: F.array_append(_c(a), _c(v)),
    "array_push_back": lambda a, v: F.array_append(_c(a), _c(v)),
    "array_prepend": lambda v, a: F.array_prepend(_c(a), _c(v)),
    "array_push_front": lambda v, a: F.array_prepend(_c(a), _c(v)),
    "array_concat": lambda *a: F.concat(*[_c(x) for x in a]),
    "array_cat": lambda *a: F.concat(*[_c(x) for x in a]),
    "array_has": _array_has,
    "array_contains": _array_has,
    "array_has_all": lambda a, b: F.size(F.array_except(_c(b), _c(a))) == 0,
    "array_has_any": lambda a, b: F.arrays_overlap(_c(a), _c(b)),
    "array_ndims": _array_ndims,
    "array_dims": lambda a: F.array(F.size(_c(a))),
    "cardinality": lambda a: F.size(_c(a)),
    "array_element": lambda a, i: F.element_at(_c(a), _c(i)),
    "array_extract": lambda a, i: F.element_at(_c(a), _c(i)),
    "array_slice": _array_slice,
    "array_pop_front": lambda a: F.slice(_c(a), 2, F.greatest(F.size(_c(a)) - 1, F.lit(0))),
    "array_pop_back": lambda a: F.slice(_c(a), 1, F.greatest(F.size(_c(a)) - 1, F.lit(0))),
    "array_position": _array_position,
    "array_indexof": _array_position,
    "array_positions": _array_positions,
    "array_remove": lambda a, v: _array_remove_first_n(a, v, 1),
    "array_remove_n": _array_remove_first_n,
    "array_remove_all": lambda a, v: F.array_remove(_c(a), _c(v)),
    "array_replace": lambda a, f, t: _array_replace_n(a, f, t, 1),
    "array_replace_n": _array_replace_n,
    "array_replace_all": lambda a, f, t: F.transform(
        _c(a), lambda x: F.when(x == _c(f), _c(t)).otherwise(x)
    ),
    "array_repeat": lambda v, n: F.array_repeat(_c(v), _c(n)),
    "array_resize": _array_resize,
    "array_reverse": lambda a: F.reverse(_c(a)),
    "array_sort": lambda a, *opts: F.sort_array(
        _c(a), asc=(not opts or str(opts[0]).upper().startswith("ASC"))
    ),
    "array_distinct": lambda a: F.array_distinct(_c(a)),
    "array_intersect": lambda a, b: F.array_intersect(_c(a), _c(b)),
    "array_union": lambda a, b: F.array_union(_c(a), _c(b)),
    "array_except": lambda a, b: F.array_except(_c(a), _c(b)),
    "array_empty": lambda a: F.size(_c(a)) == 0,
    "empty": lambda a: F.size(_c(a)) == 0,
    "array_length": lambda a, *dim: F.size(_c(a)),
    "flatten": lambda a: F.flatten(_c(a)),
    "range": lambda start, stop=None, step=None: (
        F.sequence(F.lit(0), _c(start) - 1)
        if stop is None
        else F.sequence(_c(start), _c(stop) - (1 if step is None else 0), *(
            [_c(step)] if step is not None else []
        ))
    ),
    "generate_series": lambda start, stop, *step: F.sequence(
        _c(start), _c(stop), *[_c(s) for s in step]
    ),
    "array_to_string": lambda a, sep, *nullrep: F.array_join(
        _c(a), sep if isinstance(sep, str) else sep, *nullrep
    ),
    "array_join": lambda a, sep, *nullrep: F.array_join(
        _c(a), sep if isinstance(sep, str) else sep, *nullrep
    ),
    "string_to_array": lambda s, d, *nullstr: F.split(_c(s), _regex_escape(d)),
    "string_to_list": lambda s, d, *nullstr: F.split(_c(s), _regex_escape(d)),
}


def _regex_escape(d) -> str:
    """F.split takes a regex; DataFusion string_to_array takes a literal."""
    import re

    return re.escape(d) if isinstance(d, str) else d


# map functions (datafusion/functions-nested/src/map*.rs)
MAP: dict[str, Callable[..., Column]] = {
    # map(keys_array, values_array) — map.rs
    "map": lambda k, v: F.map_from_arrays(_c(k), _c(v)),
    # make_map(k1, v1, k2, v2, ...) — map.rs `make_map`
    "make_map": lambda *kv: F.create_map(*[_c(x) for x in kv]),
    "map_keys": lambda m: F.map_keys(_c(m)),  # map_keys.rs
    "map_values": lambda m: F.map_values(_c(m)),  # map_values.rs
    # map_extract returns a LIST holding the value (or empty) — map_extract.rs
    "map_extract": lambda m, k: F.filter(
        F.array(F.element_at(_c(m), _c(k) if not isinstance(k, str) else k)),
        lambda x: x.isNotNull(),
    ),
    "map_entries": lambda m: F.map_entries(_c(m)),
}


FAMILIES: dict[str, dict[str, Callable[..., Column]]] = {
    "string": STRING,
    "unicode": UNICODE,
    "regex": REGEX,
    "datetime": DATETIME,
    "math": MATH,
    "core": CORE,
    "crypto": CRYPTO,
    "array": ARRAY,
    "map": MAP,
}

SCALAR: dict[str, Callable[..., Column]] = {}
for _fam in FAMILIES.values():
    SCALAR.update(_fam)

# DataFusion's registered alias names (functions-array registers a list_*
# alias for every array_* udf; string/datetime aliases from each impl's
# `aliases()`), so a reference user's spelling resolves here too.
_ALIASES = {
    "list_dims": "array_dims", "list_distinct": "array_distinct",
    "list_empty": "array_empty", "list_except": "array_except",
    "list_has_all": "array_has_all", "list_has_any": "array_has_any",
    "list_intersect": "array_intersect", "list_length": "array_length",
    "list_ndims": "array_ndims", "list_pop_back": "array_pop_back",
    "list_pop_front": "array_pop_front", "list_positions": "array_positions",
    "list_remove": "array_remove", "list_remove_all": "array_remove_all",
    "list_remove_n": "array_remove_n", "list_repeat": "array_repeat",
    "list_replace": "array_replace", "list_replace_all": "array_replace_all",
    "list_replace_n": "array_replace_n", "list_resize": "array_resize",
    "list_reverse": "array_reverse", "list_slice": "array_slice",
    "list_sort": "array_sort", "list_union": "array_union",
    "list_cat": "array_cat", "list_concat": "array_concat",
    "list_append": "array_append", "list_prepend": "array_prepend",
    "list_contains": "array_contains", "list_element": "array_element",
    "list_extract": "array_extract", "list_indexof": "array_indexof",
    "list_position": "array_position", "list_join": "array_join",
    "list_to_string": "array_to_string", "list_push_back": "array_push_back",
    "list_push_front": "array_push_front", "list_has": "array_has",
    "make_list": "make_array",
    "trim": "btrim",            # reference: trim is btrim's alias
    "date_format": "to_char",   # reference: to_char alias (Postgres spelling)
}
for _alias, _base in _ALIASES.items():
    SCALAR.setdefault(_alias, SCALAR[_base])
