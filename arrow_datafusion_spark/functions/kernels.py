"""The engine's Python kernels: the four functions with no Spark primitive,
as Arrow-batched pandas UDFs, defined once.

``SessionContext._ensure_macros`` registers each under its ``df_*`` name
(``SESSION_UDFS``) for the SQL front end's rewrites; the DataFrame
registry (functions/scalar.py) calls the UDF objects directly, so it
needs no SessionContext in the session. Importing this module imports
pandas, so callers import it where a kernel is first needed.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BinaryType, StringType


def _bytes(v) -> bytes:
    return bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode()


def _blake2(s: pd.Series, algo: pd.Series) -> pd.Series:
    """blake2 digests (crypto/digest.rs Blake2s/Blake2b). hashlib's
    defaults match the reference: blake2s 32 B, blake2b 64 B."""
    import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)

    return pd.Series(
        [None if v is None else getattr(hashlib, a)(_bytes(v)).digest()
         for v, a in zip(s, algo)]
    )


def _blake3(s: pd.Series) -> pd.Series:
    """blake3 (crypto/digest.rs Blake3 arm): no Spark, hashlib or DuckDB
    primitive, so the pure-Python spec implementation (functions/blake3.py,
    checked against the reference implementation's published vectors)."""
    import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
    from arrow_datafusion_spark.functions.blake3 import blake3 as spec

    return pd.Series([None if v is None else spec(_bytes(v)) for v in s])


def _regex_module():
    try:  # `regex` supports \p{...} properties like Rust's crate
        import regex
    except ImportError:
        import re as regex
    return regex


def _regexp_match(s: pd.Series, p: pd.Series, f: pd.Series) -> pd.Series:
    """regexp_match (regex/regexpmatch.rs, Postgres semantics): the FIRST
    match's capture groups as List<Utf8>, the whole match when the pattern
    has no groups, NULL when the string or pattern is NULL or nothing
    matches. No Spark primitive returns the group list for runtime
    patterns."""
    import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)

    re_ = _regex_module()
    flag_bits = {"i": re_.I, "s": re_.S, "m": re_.M, "x": re_.X}

    def one(v, pat, fl):
        if v is None or pat is None:
            return None
        flags = 0
        for ch in fl or "":  # NULL flags = no flags (regex.rs)
            if ch == "g":
                raise ValueError("regexp_match() does not support the global flag")
            flags |= flag_bits.get(ch, 0)
        m = re_.search(pat, v, flags)
        if m is None:
            return None
        return list(m.groups()) if m.re.groups else [m.group(0)]

    return pd.Series([one(*args) for args in zip(s, p, f)])


def _regexp_replace(s: pd.Series, p: pd.Series, r: pd.Series, f: pd.Series) -> pd.Series:
    """regexp_replace (regex/regexpreplace.rs, Postgres semantics): the
    FIRST match unless the 'g' flag is given, \\1-style back-references,
    NULL when any argument (flags included) is NULL. The ctx.sql rewrite
    keeps the replace-all, no-backref form on Spark's JVM kernel and routes
    only the divergent forms here."""
    import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)

    re_ = _regex_module()
    flag_bits = {"i": re_.I, "s": re_.S, "m": re_.M, "x": re_.X}

    def one(v, pat, rep, fl):
        if v is None or pat is None or rep is None or fl is None:
            return None
        flags, count = 0, 1
        for ch in fl:
            if ch == "g":
                count = 0
            else:
                flags |= flag_bits.get(ch, 0)
        # '\\1' (escaped backslash in the SQL text) and '\1' both mean
        # group 1: collapse to the \1 form re.sub interprets
        rep = rep.replace("\\\\", "\\")
        return re_.sub(pat, rep, v, count=count, flags=flags)

    return pd.Series([one(*args) for args in zip(s, p, r, f)])


blake2 = pandas_udf(_blake2, BinaryType())
blake3 = pandas_udf(_blake3, BinaryType())
regexp_match = pandas_udf(_regexp_match, ArrayType(StringType()))
regexp_replace = pandas_udf(_regexp_replace, StringType())

# the session function name each kernel is registered under
SESSION_UDFS = {
    "df_blake2": blake2,
    "df_blake3": blake3,
    "df_regexp_match": regexp_match,
    "df_regexp_replace": regexp_replace,
}
