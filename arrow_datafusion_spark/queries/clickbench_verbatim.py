"""ClickBench statements run AS-WRITTEN through the engine, driver-gated.

The reference ships ClickBench verbatim
(/root/reference/benchmarks/queries/clickbench/queries.sql; runner
benchmarks/src/clickbench.rs). tests/test_clickbench_verbatim.py already
differential-checks every statement against DuckDB; this module promotes
the exactly-reproducible subset into the driver registry (VERDICT r9 #6)
so CORRECTNESS_r{N}.json records them, executing the reference's OWN SQL
text unmodified through ``SessionContext.sql``.

Harness plumbing around the verbatim text (documented, value-preserving):

- **positional renames**: ClickBench leaves aggregates unaliased, and each
  engine names them differently (`count(*)` vs `count_star()`); the driver
  compare matches columns BY NAME, so both sides are renamed positionally
  to c0..cN (`df.toDF(...)` / DuckDB `AS v(c0, ...)`). Values untouched.
- **fixture**: the 100k-row full-schema hits table from
  tests/hits_fixture.py (cached parquet); the oracle reads the same file
  via ``read_parquet`` since the driver's DuckDB views cover only the sf
  tables.
- **oracle dialect**: the two mechanical substitutions DuckDB needs
  (`"x"::INT::DATE` → date arithmetic; `to_timestamp_seconds` →
  `to_timestamp::TIMESTAMP`) — same rules as the verbatim pytest, which
  documents why each exists.

Statement selection (round 11 widened the registry to the FULL 43):

- **hash-gated** (_PICKED): exact-valued outputs — counts, distincts,
  min/max, group keys — PLUS every SUM/AVG whose accumulation is exact in
  double (integer columns whose total stays under 2^53: each partial sum
  is an exactly-representable integer, so float addition is
  order-independent and both engines produce the identical double), and
  every ORDER-BY-LIMIT statement whose sort cut is TIE-FREE on this
  fixture (verified rank-k vs rank-k+1 for each — ties inside the window
  don't change the row SET).
- **bound-gated** (cb_v_avg_userid): AVG("UserID") sums ~2.2e18 — past
  2^53 the double accumulation rounds order-dependently, so the entry
  emits the DECIMAL-exact average as the hashable anchor plus a 0/1
  |float−exact| ≤ 1e-9·|exact| check (the agg_approx discipline).
- **derived-gated** (_DERIVED — round 12): q18's LIMIT without ORDER BY
  and q39's OFFSET 1000 into count-1 ties are under-determined result
  sets on ANY engine pair, so the entries hash a DETERMINISTIC derivation
  instead: row count, a membership bit (every returned row appears in the
  un-LIMITed result), and — for q39, which orders by PageViews — the sum
  of the returned PageViews values (the rank-1001..1010 value multiset is
  fixed by the ORDER BY even when the carrying rows are not). The
  verbatim statement still executes unmodified inside each entry.

With the round-12 promotion every one of the 43 reference statements is
hash-gated: 40 directly (two of them deterministically zero-row — q39/
q42's OFFSETs exceed the fixture's group counts), 1 bound-gated, 2
derived-gated. Round 12 also registers the reference's 3 extended.sql
statements (cb_v_x_* — exact COUNT-DISTINCT shapes, hash-gated
directly), completing the ClickBench surface clickbench.rs runs: 46/46.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from arrow_datafusion_spark.session import session_key

_QUERIES_SQL = "/root/reference/benchmarks/queries/clickbench/queries.sql"
_EXTENDED_SQL = "/root/reference/benchmarks/queries/clickbench/extended.sql"

# statement index in queries.sql → output column count (for the renames)
_PICKED: dict[str, tuple[int, int]] = {
    "cb_v_count": (0, 1),
    "cb_v_count_filtered": (1, 1),
    "cb_v_distinct_users": (4, 1),
    "cb_v_distinct_phrases": (5, 1),
    "cb_v_minmax_date": (6, 2),
    "cb_v_adv_engine": (7, 2),
    "cb_v_phrase_topk": (12, 2),
    "cb_v_phrase_users_topk": (13, 2),
    "cb_v_point_lookup": (19, 1),
    "cb_v_like_count": (20, 1),
    "cb_v_phrase_order": (25, 1),
    "cb_v_url_topk": (33, 2),
    "cb_v_pageviews_url": (36, 2),
    "cb_v_pageviews_title": (37, 2),
    "cb_v_window_dims": (41, 3),
    "cb_v_minute_series": (42, 2),
    # round-11 additions — integer-exact SUM/AVG and tie-free cuts
    # (classification in the module docstring; per-statement tie audit in
    # the round-11 build notes)
    "cb_v_sum_avg": (2, 3),
    "cb_v_region_users": (8, 2),
    "cb_v_region_mix": (9, 5),
    "cb_v_phone_model_users": (10, 2),
    "cb_v_phone_users": (11, 3),
    "cb_v_engine_phrase_count": (14, 3),
    "cb_v_user_topk": (15, 2),
    "cb_v_user_minute_phrase": (18, 4),
    "cb_v_google_url_phrase": (21, 3),
    "cb_v_google_title": (22, 5),
    "cb_v_star_by_time": (23, 105),
    "cb_v_phrase_by_time": (24, 1),
    "cb_v_phrase_by_time_phrase": (26, 1),
    "cb_v_counter_avg_len": (27, 3),
    "cb_v_referer_domains": (28, 4),
    "cb_v_sums_90": (29, 90),
    "cb_v_engine_ip_mix": (30, 5),
    "cb_v_watch_ip_mix": (31, 5),
    "cb_v_watch_ip_mix_all": (32, 5),
    "cb_v_url_topk_lit": (34, 3),
    "cb_v_clientip_tuple": (35, 5),
    "cb_v_user_phrase_topk": (16, 3),
    "cb_v_urlhash_offset": (40, 3),  # 70 groups < OFFSET 100 → 0 rows
    "cb_v_pageviews_offset": (38, 2),  # 199 groups < OFFSET 1000 → 0 rows
}

# extended.sql (round 12) — the reference's 3 extra statements, all
# exact COUNT(DISTINCT) shapes; xq2's LIMIT 10 never cuts (the
# fixture has 5 BrowserCountry groups), so the row SET is
# deterministic under the order-insensitive hash. Keyed by the
# EXTENDED-RELATIVE index: the absolute position is computed from the
# actual queries.sql statement count at registry build, so a statement
# added to or dropped from queries.sql can never silently rebind these
# entries to the wrong SQL (r12 advice).
_X_PICKED: dict[str, tuple[int, int]] = {
    "cb_v_x_distinct_search": (0, 3),
    "cb_v_x_distinct_colors": (1, 3),
    "cb_v_x_country_distincts": (2, 5),
}

# under-determined result sets (q18's LIMIT without ORDER BY; q39's
# OFFSET 1000 into count-1 ties) — the verbatim statement still executes
# unmodified, but the ENTRY derives a deterministic gate from it
# (round-11 verdict #2, the agg_approx discipline): row count +
# every-returned-row-is-a-member-of-the-unlimited-result as hashable
# columns, plus (q39) the SUM of the returned sort-key values — the
# multiset of PageViews at ranks 1001-1010 is determined by the ORDER BY
# even when the carrying group rows are not. Both sides now hash-gate.
_DERIVED: dict[str, tuple[int, int]] = {
    "cb_v_user_phrase_limit": (17, 3),
    "cb_v_src_dst_offset": (39, 6),
}

_LIMIT_TAIL_RE = re.compile(
    r"\s+LIMIT\s+\d+(?:\s+OFFSET\s+\d+)?\s*$", re.IGNORECASE
)

# One SessionContext (and ONE hits registration) per live SparkSession —
# the r12 bench paid a fresh SessionContext + Settings construction +
# spark.read.parquet(hits) re-registration on EVERY entry invocation
# (~0.15 s/call of pure fixed cost × 46 statements × warm+timed passes ≈
# 60% of the cb_verbatim suite total; guide §4.5: heavyweight init once).
# Keyed by session like session._TABLE_CACHE: the context registers its
# table in one SparkSession. Registration is
# idempotent: all cb_v entries read the same immutable cached fixture.
_CTX_CACHE: dict = {}


def _cb_ctx(spark: SparkSession):
    from arrow_datafusion_spark.context import SessionContext

    key = session_key(spark)
    ctx = _CTX_CACHE.get(key)
    if ctx is None:
        ctx = SessionContext(spark)
        ctx.register_parquet("hits", _hits_parts_path())
        # keep only the live session's entry: a stopped-and-restarted
        # SparkSession in one long process would otherwise leak a full
        # SessionContext per dead session (ADVICE r13)
        _CTX_CACHE.clear()
        _CTX_CACHE[key] = ctx
    return ctx


def _make_derived(idx: int, ncols: int, sum_col: int | None):
    """Deterministic gate over an under-determined LIMIT/OFFSET statement:
    run the verbatim text, then emit (c0=row count, c1=all rows appear in
    the un-LIMITed result, [c2=sum of the sort-key column — deterministic
    because the ORDER BY sorts by that very column])."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        ctx = _cb_ctx(spark)
        text = _statements()[idx]
        names = [f"k{k}" for k in range(ncols)]
        lim = ctx.sql(text).toDF(*names)  # the reference's text, unmodified
        full = ctx.sql(_LIMIT_TAIL_RE.sub("", text)).toDF(*names)
        member = lim.join(full, names, "left_semi")
        aggs = [
            F.count(F.lit(1)).alias("__n__"),
        ]
        if sum_col is not None:
            aggs.append(
                F.coalesce(
                    F.sum(F.col(names[sum_col]).cast("long")), F.lit(0)
                ).alias("__s__")
            )
        a = lim.agg(*aggs)
        b = member.agg(F.count(F.lit(1)).alias("__m__"))
        out = a.crossJoin(b).select(
            F.col("__n__").alias("c0"),
            (F.col("__n__") == F.col("__m__")).cast("int").alias("c1"),
            *(
                [F.col("__s__").alias("c2")]
                if sum_col is not None
                else []
            ),
        )
        return out

    return run


def _derived_oracle(idx: int, hits: str, sum_col_name: str | None) -> str:
    """DuckDB side of the derived gate: the deterministic row count
    (LEAST(limit, total-offset) floored at 0), the membership bit
    (trivially 1 — any LIMIT subset is a subset), and the deterministic
    sort-key sum at the OFFSET window when the statement orders by it."""
    text = _statements()[idx]
    m = re.search(
        r"\bLIMIT\s+(\d+)(?:\s+OFFSET\s+(\d+))?\s*$", text, re.IGNORECASE
    )
    limit, offset = int(m.group(1)), int(m.group(2) or 0)
    body = re.sub(
        r"\bFROM\s+hits\b",
        f"FROM read_parquet('{hits}') AS hits",
        _duckdb_dialect(_LIMIT_TAIL_RE.sub("", text)),
        flags=re.IGNORECASE,
    )
    cnt = (
        f"CAST(GREATEST(0, LEAST({limit}, "
        f"(SELECT COUNT(*) FROM _fullres) - {offset})) AS BIGINT)"
    )
    cols = f"{cnt} AS c0, 1 AS c1"
    if sum_col_name is not None:
        cols += (
            f", CAST(COALESCE((SELECT SUM(__v) FROM (SELECT {sum_col_name}"
            f" AS __v FROM _fullres ORDER BY {sum_col_name} DESC"
            f" LIMIT {limit} OFFSET {offset}) w), 0) AS BIGINT) AS c2"
        )
    return f"WITH _fullres AS ({body}) SELECT {cols}"


def _statement_files() -> tuple[list[str], list[str]]:
    """(queries.sql statements, extended.sql statements) — the reference's
    complete ClickBench surface (benchmarks/src/clickbench.rs runs both
    files). Split per file so the extended entries key off the ACTUAL
    queries.sql count instead of a hardcoded 43 (r12 advice)."""

    def _load(path: str) -> list[str]:
        if not os.path.exists(path):
            return []  # degrade to whatever is present (registry loop
            # skips picked indices past the loaded statements)
        with open(path) as f:
            return [s.strip() for s in f.read().split(";") if s.strip()]

    return _load(_QUERIES_SQL), _load(_EXTENDED_SQL)


def _statements() -> list[str]:
    a, b = _statement_files()
    return a + b


def _hits_path() -> str:
    from tests import hits_fixture

    return hits_fixture.generate()


_N_PARTS = 8


def _hits_parts_path() -> str:
    """Multi-file copy of the hits fixture: the same rows, split into
    ``_N_PARTS`` contiguous parquet parts, so every verbatim statement's
    scan gets a parallel map side instead of ONE task pinned to a single
    9.8 MB file — the same storage-artifact correction bench.py applies
    to the TPC-H fixtures (its module docstring; guide §6 input splits).
    The ORACLE keeps reading the single file: every hash-gated statement
    was selected for layout-independent values (integer-exact sums,
    tie-free cuts — this module's docstring), so a row-preserving
    re-encode cannot change any gated result. Derived lazily next to the
    fixture, completeness-markered, regenerated when the fixture is newer;
    falls back to the single file if generation fails (read-only FS)."""
    import shutil

    single = _hits_path()
    parts = single[: -len(".parquet")] + "_parts"
    marker = os.path.join(parts, "_SUCCESS")
    try:
        if (
            os.path.isdir(parts)
            and os.path.exists(marker)
            and os.path.getmtime(marker) >= os.path.getmtime(single)
        ):
            return parts
        import pyarrow.parquet as pq

        t = pq.read_table(single)
        tmp = parts + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        step = (t.num_rows + _N_PARTS - 1) // _N_PARTS
        for k in range(_N_PARTS):
            pq.write_table(
                t.slice(k * step, step),
                os.path.join(tmp, f"part-{k:02d}.parquet"),
            )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(parts, ignore_errors=True)
        os.rename(tmp, parts)
        return parts
    except Exception:
        return single


def _duckdb_dialect(sql: str) -> str:
    """Same two substitutions as tests/test_clickbench_verbatim.py."""
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


def _make(idx: int, ncols: int) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _cb_ctx(spark).sql(
            _statements()[idx]
        )  # the reference's text, unmodified
        return df.toDF(*[f"c{k}" for k in range(ncols)])

    return run


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

try:
    _AVAILABLE = os.path.exists(_QUERIES_SQL) and bool(_hits_path())
except Exception:  # tests package absent / generation failed — degrade
    _AVAILABLE = False
def _make_avg_userid() -> Callable[[SparkSession, str], DataFrame]:
    """idx 3 — AVG("UserID") sums past 2^53: bound-gated (docstring)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        ctx = _cb_ctx(spark)
        approx = ctx.sql(_statements()[3]).toDF("a")  # verbatim text
        exact = ctx.sql(
            'SELECT CAST(ROUND(SUM(CAST("UserID" AS DECIMAL(38,0))) '
            "/ COUNT(*), 3) AS DOUBLE) AS e FROM hits"
        )
        return approx.crossJoin(exact).select(
            F.col("e").alias("c0"),
            (F.abs(F.col("a") - F.col("e")) <= 1e-9 * F.abs(F.col("e")))
            .cast("int")
            .alias("c1"),
        )

    return run


if _AVAILABLE:
    _Q_STMTS, _X_STMTS = _statement_files()
    _ALL = _Q_STMTS + _X_STMTS
    # the oracle string needs the fixture's path, so materialize it now
    # (cached parquet — a file-exists check after the first generation);
    # __spark_entry__ drops the cb_v_* priority names when this module
    # degrades to an empty registry
    _HITS = _hits_path()
    # extended entries bind at (actual queries.sql count) + relative idx
    _PICKS = dict(_PICKED)
    _PICKS.update(
        (n, (len(_Q_STMTS) + i, c)) for n, (i, c) in _X_PICKED.items()
        if i < len(_X_STMTS)
    )
    for _name, (_idx, _n) in _PICKS.items():
        if _idx >= len(_ALL):
            continue  # extended.sql absent on this host
        QUERIES[_name] = _make(_idx, _n)
        _body = re.sub(
            r"\bFROM\s+hits\b",
            f"FROM read_parquet('{_HITS}') AS hits",
            _duckdb_dialect(_ALL[_idx]),
            flags=re.IGNORECASE,
        )
        cols = ", ".join(f"c{k}" for k in range(_n))
        # DuckDB's integer SUM returns HUGEINT, which pandas widens to
        # float64 — cast each SUM column back to BIGINT so the dtype-
        # strict hash compares int64 vs int64 (the round-3 artifact;
        # tests/test_oracle_dtypes.py guards the whole registry)
        _hugeint_cols = {
            "cb_v_sum_avg": (0,),
            "cb_v_region_mix": (1,),
            "cb_v_engine_ip_mix": (3,),
            "cb_v_watch_ip_mix": (3,),
            "cb_v_watch_ip_mix_all": (3,),
            "cb_v_sums_90": tuple(range(90)),
        }.get(_name, ())
        if _hugeint_cols:
            sel = ", ".join(
                f"CAST(c{k} AS BIGINT) AS c{k}" if k in _hugeint_cols
                else f"c{k}"
                for k in range(_n)
            )
            ORACLE[_name] = f"SELECT {sel} FROM ({_body}) AS v({cols})"
        else:
            ORACLE[_name] = f"SELECT * FROM ({_body}) AS v({cols})"
    # derived deterministic gates over the two under-determined statements
    # (q39 orders by PageViews — the 6th output column — so its window sum
    # is deterministic; q18 has no ORDER BY, so count+membership only)
    QUERIES["cb_v_user_phrase_limit"] = _make_derived(17, 3, None)
    ORACLE["cb_v_user_phrase_limit"] = _derived_oracle(17, _HITS, None)
    QUERIES["cb_v_src_dst_offset"] = _make_derived(39, 6, 5)
    ORACLE["cb_v_src_dst_offset"] = _derived_oracle(39, _HITS, "PageViews")
    QUERIES["cb_v_avg_userid"] = _make_avg_userid()
    ORACLE["cb_v_avg_userid"] = (
        'SELECT CAST(ROUND(SUM(CAST("UserID" AS DECIMAL(38,0))) '
        "/ COUNT(*), 3) AS DOUBLE) AS c0, 1 AS c1 "
        f"FROM read_parquet('{_HITS}')"
    )
