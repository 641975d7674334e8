"""Run the REFERENCE'S OWN sqllogictest files against this engine.

The reference's primary test corpus is 58k lines of .slt (SURVEY §5;
/root/reference/datafusion/sqllogictest/test_files/). This test executes a
set of expression-centric files through ``SessionContext.sql`` with the
runner in arrow_datafusion_spark/slt.py and requires:

- ZERO value failures outside the explicitly documented divergences below,
- a minimum pass count per file (so silent skips can't hollow the check).

Skipped records are SQL the engine can't run (DataFusion-only DDL forms,
functions outside the shared surface) — counted, never hidden.
Divergences are classified differences, each grounded in a documented
policy: type-display names (Spark types integer literals Int32 where the
reference uses Int64 — SURVEY §1.2), and error-leniency (Spark accepting
SQL the reference rejects).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SLT_DIR = "/root/reference/datafusion/sqllogictest/test_files"

# (file, slt line) → reason, for the residual failures that encode genuine,
# documented semantic divergences rather than bugs. Families CLOSED by the
# round-8 audit (entries pruned; the .slt records now PASS): fractional-
# second EXTRACT over literal timestamps (constant-folded at rewrite time
# with the text's full ns precision — 16 expr.slt lines), overlay's
# reference-exact composition (prefix dropped past the string end, NULL
# propagation — string/overlay.rs:90), and integer COLUMN division
# (schema-resolved `div` lowering for single-table queries — 3 lines).
#
# ROUND-10 AUDIT: 11 closed (SHOW VERBOSE doc text ×4, plural-interval
# quirk, unordered string_agg, map entry order, CREATE ident
# normalization, 3 f32-compute entries via typed.f32_math).
#
# ROUND-12 AUDIT: 9 closed, 44 → 35 — options.slt literal typing ×2,
# arrow_typeof.slt named-tz casts ×2, timestamps.slt named-tz
# date_trunc ×2 + TIME ns-literal ×1, map.slt footer-schema DESCRIBE
# ×1 (all in the r12 first-pass commits), and decimal.slt:397
# (truncating decimal division — typed.decimal_division).
#
# ROUND-11 AUDIT: 12 more closed, 56 → 44 —
# - joins.slt ×4: int↔timestamp reinterpret casts (the
#   `::timestamp::bigint` epoch-ns lowering + arrow_cast int→Timestamp
#   unit reinterpretation);
# - timestamps.slt ×5: ns-fraction displays absorbed by the comparator's
#   µs-granularity instant key (the §1.2 truncation policy itself — the
#   engine's sub-µs digits are zero by construction) and the date_bin
#   NTZ-origin-as-UTC coercion (1673);
# - aggregate.slt ×3: the ns displays (same comparator rule) and the HLL
#   count (approx_distinct now runs Spark HLL++ at the reference's own
#   2^14-register precision — exact at linear-counting cardinalities).
# Every remaining entry was re-read this round and cites the policy that
# pins it: uint64 > 2^63 widening, TIME-type ns, dbgen text streams,
# -NaN representability (Spark normalizes the sign; predicates.slt needs
# -NaN ≠ NaN), platform-libm f32 artifacts, named-timezone per-column
# zones, scan-order accidents the reference's own comments call
# order-dependent, non-ANSI reference quirks (NOT-IN null row, SMJ
# duplicate emit) that would be bugs if emulated, and the FixedSizeList
# NULL-row append artifact (the reference's raw-buffer read materializes
# null-filled lists for Float64 children but an EMPTY list for Utf8
# children — an implementation accident, not semantics to copy).
_KNOWN = {
    # tpch/tpch.slt (the reference's own q1-q22 goldens at dbgen SF0.1,
    # run via tests/tpch_tbl.py's duckdb-dbgen regeneration):
    # - CLOSED round 9: decimal AVG truncating division (average.rs
    #   DecimalAverager) is now emulated by ctx.sql's
    #   typed.decimal_avg, so q1's avg_disc golden (line 206) and
    #   decimal.slt's avg record (line 121) PASS.
    # - dbgen text streams: duckdb's dbgen port reproduces every numeric/
    #   key/date/name column of classic dbgen at SF0.1 (16 of 22 queries
    #   match the goldens cell-exactly) but its random-TEXT streams
    #   (V_STR addresses, TEXT-grammar comments) diverge at fractional
    #   SF. Affects only queries that OUTPUT address/comment cells
    #   (q2/q10/q15/q20 — all their key and numeric cells match) or
    #   FILTER on comment text (q13's `o_comment not like
    #   '%special%requests%'` distribution). Not reproducible without
    #   dbgen's dists.dss word lists, which no repo here ships.
    ("tpch/tpch.slt", 347): "dbgen text stream (c_address/c_comment cells)",
    ("tpch/tpch.slt", 763): "dbgen text stream (o_comment LIKE distribution)",
    ("tpch/tpch.slt", 985): "dbgen text stream (s_address cell)",
    ("tpch/tpch.slt", 1728): "dbgen text stream (s_address/s_comment cells)",
    ("tpch/tpch.slt", 1917): "dbgen text stream (s_address cell)",
    # window.slt: sort-tie order. The reference's DESC sort reverses its
    # (declared-ordered) scan, so rows tied on the sort key appear in
    # REVERSE input order; Spark's stable sort keeps forward input order.
    # SQL leaves tie order unspecified — both outputs are valid; the
    # expected blocks encode the reference's physical choice (window
    # values on tied rows and which tied rows survive LIMIT both shift).
    # ROUND-12 RE-AUDIT (permanence confirmed): RANGE frames give tied
    # peers identical values, so a comparator-side tie-group multiset
    # could absorb those — but these records' SELECT lists carry ROWS-
    # frame aggregates (sum3/cnt2-style), whose per-row values depend on
    # the physical order WITHIN the tie group; the surviving LIMIT rows
    # then differ in VALUE, not just order, and no comparator
    # canonicalization short of re-deriving the reference's reverse-scan
    # order can equate them. Emulating that order engine-side would need
    # a per-fixture synthetic scan-position column threaded through every
    # window spec — runner-level surgery targeting 7 records that encode
    # a physical accident, not semantics. Pinned.
    ("window.slt", 2595): "sort-tie order (reverse-scan DESC ties)",
    ("window.slt", 2680): "sort-tie order (reverse-scan DESC ties)",
    ("window.slt", 2808): "sort-tie order (reverse-scan DESC ties)",
    ("window.slt", 2855): "sort-tie order (reverse-scan DESC ties)",
    ("window.slt", 2903): "sort-tie order (reverse-scan DESC ties)",
    ("window.slt", 4337): "sort-tie order under LIMIT (c2=1.0 tie pair)",
    ("window.slt", 4356): "sort-tie order under LIMIT (c2=1.0 tie pair)",
    # aggregate.slt / functions.slt families, each tied to a policy:
    # - t-digest: CLOSED round 10 — functions/tdigest.py reproduces the
    #   reference's merging digest bit-exactly for single-batch groups
    #   (all 6 direct-value records pass, e.g. p95=73 where the exact
    #   percentile is 65); only the HLL count artifact remains sketchy.
    # - median typing: Spark's median/percentile is Float64-valued; the
    #   reference returns the INPUT type (integer medians truncate, big
    #   int64 medians stay exact, decimal medians keep scale) — §1.2.
    # - f32 compute: CLOSED round 10 for the sqrt/round-over-Float shapes
    #   (typed.f32_math lowers them to f32 kernels); only the
    #   platform-libm log artifact remains (array.slt:645 below).
    # - corr singular input: reference returns 0.0 for a zero-variance
    #   (single-point) population; Spark and Postgres return NULL.
    # - ns-precision columns and interval Display forms inside arrays.
    # (the t-digest DIRECT-VALUE family — approx_median ×2 at 510/516,
    # grouped p95 ×4 at 1459-1488 — CLOSED round 10: functions/tdigest.py
    # implements the reference's merging digest faithfully, bit-exact for
    # single-batch groups, including with_weight's count-vs-weight quirk.)
    # (aggregate.slt:1051 CLOSED round 11: approx_distinct now runs
    # Spark HLL++ at the reference's OWN precision — rsd 0.00865 →
    # p=14 = hyperloglog.rs's 2^14 registers under Spark's
    # ceil(2·log2(1.106/rsd)) derivation — so the 100-value fixture
    # lands in the linear-counting regime and both engines return the
    # exact 100; residual hash artifacts at large cardinality stay
    # documented as cross-family counts.)
    # c10 is BIGINT UNSIGNED with values above 2^63 (golden medians
    # 9.3e18, 1.61e19) — same §1.2 widening pin as math.slt:236/246; the
    # t-digest itself is exact on the representable subset
    ("aggregate.slt", 1209): "uint64 > 2^63 outside BIGINT widening range (c10)",
    ("aggregate.slt", 1214): "uint64 > 2^63 outside BIGINT widening range (c10)",
    ("aggregate.slt", 1219): "uint64 > 2^63 outside BIGINT widening range (c10)",
    # (aggregate.slt:3628/3674 CLOSED round 11: the µs-granularity
    # comparator absorbs the ns column displays — §1.2 truncation policy.)
    # (aggregate.slt:4933 CLOSED round 10: literal-VALUES INSERTs now
    # write ONE coalesced file, so scan order = MemTable insertion order
    # and unordered string_agg concatenates like the reference.)
    # joins.slt: int↔timestamp reinterpret casts CLOSED round 11 — the
    # `::timestamp::bigint` chain now lowers to the reference's epoch-ns
    # reinterpret (unix_micros*1000, with the following integer-literal
    # divisor joined as truncating `div`), and arrow_cast(int,
    # 'Timestamp(unit)') reinterprets statically-integral expressions as
    # unit counts; the nanos column's sub-µs display tail is absorbed by
    # the §1.2 µs-granularity comparator. NOT IN: the reference's
    # null-aware anti join emits the NULL-keyed probe row where standard
    # ternary logic (Spark, Postgres) yields no rows.
    ("joins.slt", 3555): "NOT IN null semantics (reference anti-join quirk)",
    # (decimal.slt:397 CLOSED round 12: typed.decimal_division lowers
    # decimal col/col and col/CAST-literal division to arrow-rs's result
    # type — Decimal128(p1+s2+4 capped 38, s1+4) — with the i128
    # truncating quotient emulated via `div`, same discipline as the
    # decimal-AVG rewrite; wider shapes (rs>17) keep Spark's division,
    # the documented §1.2 residual.)
    # (interval.slt:84 CLOSED round 10: `interval '5' years|months|hours`
    # — sqlparser's plural-as-alias quirk — is now rewritten to the
    # reference's parse: unit-less literal = seconds, word = alias.)
    # timestamps.slt: timestamp ns-fraction DISPLAYS closed round 11 (the
    # comparator now keys instants at the §1.2 µs granularity — the
    # engine's sub-µs digits are zero by policy, so only the expected
    # side's unrepresentable tail is absorbed; 381/386/501/519 pass).
    # Still pinned: TIME-typed ns fractions (BIGINT-ns mapping, not a
    # timestamp cell); named-timezone columns are normalized to the
    # single session tz (UTC) — the reference keeps per-column zones and
    # truncates dates in them; Date64 carries intra-day milliseconds the
    # DateType policy drops.
    # (timestamps.slt:452 CLOSED round 12: ns-precision TIME literals keep
    # their Display text — Spark's TIME caps at µs — and the runner trims
    # µs zero-tails in 3-digit groups to recover narrower-unit Displays.)
    # (timestamps.slt:1332/1416 CLOSED round 12: register_view records
    # per-column Timestamp(_, Some("tz")) declarations and
    # typed.tz_date_trunc truncates day-and-coarser units in the
    # column's own zone — from_utc_timestamp → date_trunc →
    # to_utc_timestamp, whose Java DST gap/ambiguity resolution matches
    # the chrono-tz goldens; hour/minute stay instant arithmetic like the
    # reference.)
    # (timestamps.slt:1673 CLOSED round 11: the date_bin rewrite now
    # reinterprets a plain-TIMESTAMP origin literal's wall time as UTC
    # when the source argument is TIMESTAMPTZ — the reference's NTZ→TZ
    # argument coercion.)
    ("timestamps.slt", 2713): "Date64 intra-day ms dropped by DateType policy",
    # array.slt: FixedSizeList NULL rows materialize null-filled fixed-
    # width lists in the reference. (Recursive flatten / nested
    # array_to_string CLOSED round 9: ctx.sql's typed.deep_array_fns
    # resolves the argument's nesting depth statically — single-FROM
    # column schema, bracket literals, make_array/array_repeat chains,
    # arrow_cast type strings — and applies flatten (depth-1) times, so
    # the 6 recursive-leaf records now PASS.)
    ("array.slt", 2230): "FixedSizeList NULL row materializes null-filled",
    ("array.slt", 2284): "FixedSizeList NULL row materializes null-filled",
    # scalar/select/predicates: parser precedence for ^ (additive binds
    # over xor over shift in the reference — one record); '-NaN'
    # string→double parses in Rust (and the reference's float `<` is a
    # total order where -NaN sorts smallest) vs Spark's NULL parse +
    # NaN-is-greatest semantics; NaN (dis)equality inside IN lists follows
    # each engine's float order. Integer COLUMN division for joined /
    # multi-table shapes stays fractional (the single-table rewrite covers
    # the corpus — §1.2 residual).
    # coalesce(i64, u64): the reference types it Int64 with an in-file
    # 'TODO: casting to decimal or double or even i128 if supported' —
    # the §1.2 unsigned policy widens UInt64 to Decimal(20,0) (lossless,
    # exactly the TODO's preferred answer), so the result type follows.
    ("coalesce.slt", 109): "coalesce(i64,u64): UInt64 widens to Decimal(20,0)",
    # (options.slt:106/134 CLOSED round 12: arrow_typeof resolves INTEGER
    # LITERAL arguments statically — Int64 in range, UInt64 in u64 range,
    # Float64 / Decimal128(digits, 0) beyond per the live
    # parse_float_as_decimal setting — the reference's own literal-typing
    # rules; the §1.2 Decimal STORAGE policy for u64-range values is
    # unchanged, only the type-introspection display resolves statically.)
    # (information_schema.slt VERBOSE records CLOSED round 10: settings.py
    # now carries the reference's own option doc text — the public
    # ConfigOptions description surface — so SHOW ALL VERBOSE / SHOW <key>
    # VERBOSE match the goldens. CTAS nullability closed r8.)
    # Rust-harness-created fixtures (t2 with Large*/ns columns; the 'temp'
    # LOCAL TEMPORARY table) that no SQL statement in the file creates
    ("information_schema_columns.slt", 36): "t2 is a Rust-harness fixture (Large*/ns types)",
    ("information_schema_table_types.slt", 34): "'temp' LOCAL TEMPORARY is a Rust-harness fixture",
    # multi-catalog registration needs a Spark catalog plugin; this
    # session runs single-catalog (REQUIRES_SINGLE_PART_NAMESPACE)
    ("information_schema_multiple_catalogs.slt", 78): "multi-catalog needs a catalog plugin",
    # (arrow_typeof.slt:329/334 CLOSED round 12: arrow_cast to
    # Timestamp(_, Some("tz")) is now WALL-CLOCK-PRESERVING for NTZ
    # sources — to_utc_timestamp lowering, instant-preserving for LTZ via
    # a typeof() branch — and the instant-keyed comparator absorbs the
    # display zone; the +25:00 'statement error' golden now raises at
    # rewrite time like the reference's parser.)
    ("select.slt", 551): "'-NaN'::double parses NaN in Rust, NULL in Spark",
    # (ddl.slt:647 CLOSED round 10: unquoted column names in CREATE
    # TABLE defs now lowercase like enable_ident_normalization; quoted
    # ones keep their case behind backticks.)
    ("csv_files.slt", 78): (
        "escape='\"' parse of backslash data: arrow's csv reader emits "
        "value\\0\" — the reference file itself marks this fixture 'TODO: "
        "Validate this with better data'"
    ),
    ("sort_merge_join.slt", 134): (
        "reference SMJ full-join-with-filter emits the matched right row "
        "(Alice,2) a second time NULL-extended — non-ANSI duplicate; "
        "Spark returns the standard 4-row result"
    ),
    ("group_by.slt", 3000): (
        "last_value ORDER BY ts with a ts TIE (two rows at 2022-01-03 "
        "10:00): tie-break is scan-order-dependent — the reference's own "
        "comment says such results 'depend on the scanning order'"
    ),
    ("predicates.slt", 324): "NaN equality in IN over float columns",
    ("predicates.slt", 338): "NaN equality in IN over float columns",
    ("predicates.slt", 352): "NaN equality in IN over float columns",
    ("predicates.slt", 357): "NaN equality in IN over float columns",
    ("pg_compat/pg_compat_window.slt", 578): (
        "unordered LEAD/LAG over fixture natural order — the original "
        "aggregate_test_100 row order is unavailable (substituted fixture)"
    ),
    # (map.slt:24 CLOSED round 12: DESCRIBE over path-registered parquet
    # tables reads the FOOTER schema via pyarrow — the file's declared
    # nullability, which Spark's reader relaxes to all-nullable.)
    # (map.slt:31 CLOSED round 10: the slt runner collects map columns
    # through map_entries — JVM order, what arrow's Display shows — so
    # entry order survives the Python dict conversion.)
    # (math.slt:66 + functions.slt:557/562 CLOSED round 10: ctx.sql's
    # typed.f32_math lowers round/sqrt over Float columns to the
    # reference's f32 kernels — f32-product round ties and f32-rounded
    # sqrt means now match the goldens exactly.)
    # the 2^64-1 INSERT overflows the BIGINT that `BIGINT UNSIGNED`
    # deliberately maps to. r10 A/B of the alternative (DECIMAL(20,0)):
    # u64 columns are the c9/c10 fixture columns of aggregate_test_100's
    # schema across aggregate/group_by/expr/distinct_on/..., where
    # avg(u64) must stay Float64 (Spark's decimal avg is DECIMAL(24,4)),
    # u64/int division must stay integral (decimal `/` is fractional),
    # and sum displays diverge — dozens of passing records trade for
    # these two rows. The BIGINT mapping stays (§1.2).
    ("math.slt", 236): "uint64 > 2^63 outside BIGINT widening range",
    ("math.slt", 246): "uint64 > 2^63 outside BIGINT widening range",
    # empty-value display forms: the reference renders a zero-length
    # binary as a blank cell and empty encode('') output without the
    # (empty) placeholder — cosmetic Display divergence on '' inputs
    # the reference evaluates log() at Float32 here — the expected cell
    # carries f32 artifacts (0.3010299801826477) at 16 digits, outside the
    # ≤9-digit f32-granularity comparator rule (§1.2 f64-widening policy)
    # log(2)'s golden 0.3010299801826477 is one ulp BELOW the correctly-
    # rounded f32 log10(2) — a platform-libm artifact (the corpus itself
    # notes log outputs are OS-dependent, scalar.slt:567); no portable
    # computation reproduces that exact f32, so this stays pinned even
    # with typed.f32_math landed (r10 A/B: CAST(LOG10(2) AS FLOAT)
    # yields the NEIGHBORING f32 0.3010300099849701)
    ("array.slt", 645): "platform-libm f32 log artifact in array literal",
}

# file → minimum records that must PASS (floors set ~5% under measured so
# environmental jitter can't flake, while silent regression still fails)
_FILES = {
    "coalesce.slt": 42,
    "cast.slt": 6,
    "math.slt": 92,  # 94 measured r10 (f32 round closure)
    "expr.slt": 342,
    "union.slt": 26,
    "intersection.slt": 4,
    "dates.slt": 19,
    "regexp.slt": 50,
    "strings.slt": 13,
    "functions.slt": 183,  # 187 measured r10 (f32 sqrt closures)
    "nvl.slt": 8,
    "limit.slt": 39,
    "window.slt": 230,
    "aggregate.slt": 786,  # 789 measured r11 (µs comparator + HLL-precision closures)
    "joins.slt": 271,  # 273 measured r11 (int↔ts reinterpret closures)
    "subquery.slt": 57,
    "map.slt": 10,  # +1 map-order record r10
    "unnest.slt": 35,
    "decimal.slt": 55,  # 56 measured r12 (truncating-division closures)
    "interval.slt": 34,  # +3 plural-quirk records r10 (floor ~5% under)
    "timestamps.slt": 290,  # 291 measured r12 (named-tz date_trunc + TIME-literal closures)
    "array.slt": 735,  # 744 measured r9 (flatten/cardinality/dims/length depth lowering)
    "select.slt": 146,
    "scalar.slt": 238,  # 242 measured r9 (xor-precedence record flipped)
    "predicates.slt": 71,
    "join.slt": 90,
    "cte.slt": 31,
    "group.slt": 32,
    "order.slt": 70,
    "projection.slt": 26,
    "topk.slt": 10,
    "binary.slt": 25,
    "describe.slt": 8,
    "arrow_typeof.slt": 31,  # 33 measured r12 (named-tz cast closures)
    "insert.slt": 54,
    "identifiers.slt": 17,
    "nullif.slt": 8,
    "nvl2.slt": 8,
    "misc.slt": 1,
    "references.slt": 5,
    "distinct_on.slt": 8,
    "type_coercion.slt": 5,
    "group_by.slt": 432,
    "struct.slt": 22,
    "array_query.slt": 38,
    "aggregates_topk.slt": 14,
    "wildcard.slt": 11,
    "same_column_name_cross_join.slt": 10,
    "encoding.slt": 6,
    "errors.slt": 19,
    "agg_func_substitute.slt": 2,
    "update.slt": 4,
    "prepare.slt": 15,
    "optimizer_group_by_constant.slt": 3,
    "push_down_filter.slt": 9,
    "ddl.slt": 131,  # +1 ident-normalization record r10
    "copy.slt": 70,
    "csv_files.slt": 25,
    "sort_merge_join.slt": 55,
    "dictionary.slt": 11,
    "json.slt": 13,
    "parquet.slt": 26,
    "schema_evolution.slt": 5,
    "arrow_files.slt": 9,
    "clickbench.slt": 36,
    "insert_to_external.slt": 76,
    # SET/SHOW + configuration registry (settings.py), information_schema
    # ANSI layouts, DROP FUNCTION, quoted/UNBOUNDED external tables
    "set_variable.slt": 53,
    "options.slt": 29,  # 30 measured r12 (literal-typing closures)
    "create_function.slt": 8,
    "metadata.slt": 3,
    "information_schema.slt": 62,  # +4 VERBOSE records closed r10
    "information_schema_columns.slt": 5,
    "information_schema_table_types.slt": 5,
    "information_schema_multiple_catalogs.slt": 15,
    "join_disable_repartition_joins.slt": 4,
    "filter_without_sort_exec.slt": 1,
    "explain.slt": 16,
    "create_external_table.slt": 31,
    "repartition.slt": 8,
    "repartition_scan.slt": 24,
    "monotonic_projection_test.slt": 1,
    "parquet_sorted_statistics.slt": 15,
    # avro.slt's fixtures live in the reference's `testing` submodule,
    # which is not checked out here — tests/avro_fixtures.py
    # re-materializes them (same rows/schemas/codecs incl. snappy/bzip2/
    # xz/zstandard, enum/fixed/nested records) and the runner substitutes
    # the generated paths
    "avro.slt": 17,
    # pg_compat golden suites — Spark-vs-Postgres semantic differences
    # surface here; every residual is in _KNOWN with a policy citation
    "pg_compat/pg_compat_null.slt": 5,
    "pg_compat/pg_compat_simple.slt": 14,
    "pg_compat/pg_compat_types.slt": 16,
    "pg_compat/pg_compat_type_coercion.slt": 7,
    "pg_compat/pg_compat_union.slt": 7,
    "pg_compat/pg_compat_window.slt": 12,
    # the reference's OWN TPC-H golden answers (q1-q22 at dbgen SF0.1) —
    # tests/tpch_tbl.py regenerates the .tbl data the repo doesn't ship
    # (duckdb's tpch extension reproduces classic dbgen's numeric/key/
    # date columns exactly at SF0.1); the 22 `explain` plan-text records
    # are engine-specific skips; 6 records carry _KNOWN policy notes
    # (decimal-AVG truncation, dbgen text-stream provenance). Floor:
    # 16 DDL statements + 16 cell-exact answer queries.
    "tpch/tpch.slt": 33,  # q1 avg golden flipped r9
}


# Fast/full tier split (tests/conftest.py): every corpus file measured at
# ≥10 s (per-file durations: /tmp/pytest_slt.log, full battery 23m55s —
# these 28 files are ~80% of its wall-clock) carries the `slow` mark and
# runs in the full tier (SPARK_GRAFT_FULL_TESTS=1 / -m slow). joins.slt
# (81 s) and timestamps.slt (48 s) stay in the DEFAULT tier despite their
# size: they are the historically load-bearing regression tripwires
# (the r12→r13 int-division `::`-chain breakage surfaced in joins.slt).
_SLOW_FILES = {
    "aggregate.slt",  # 260 s
    "array.slt",  # 126 s
    "group_by.slt",  # 83 s
    "window.slt",  # 55 s
    "tpch/tpch.slt",  # 50 s
    "select.slt",  # 38 s
    "insert_to_external.slt",  # 38 s
    "ddl.slt",  # 34 s
    "expr.slt",  # 33 s
    "copy.slt",  # 33 s
    "union.slt",  # 30 s
    "information_schema.slt",  # 25 s
    "set_variable.slt",  # 22 s
    "insert.slt",  # 21 s
    "scalar.slt",  # 20 s
    "join_disable_repartition_joins.slt",  # 17 s
    "join.slt",  # 17 s
    "cte.slt",  # 17 s
    "math.slt",  # 16 s
    "functions.slt",  # 15 s
    "predicates.slt",  # 15 s
    "subquery.slt",  # 15 s
    "order.slt",  # 15 s
    "sort_merge_join.slt",  # 14 s
    "pg_compat/pg_compat_window.slt",  # 12 s
    "interval.slt",  # 11 s
    "arrow_files.slt",  # 10 s
    "regexp.slt",  # 10 s
    "agg_func_substitute.slt",  # 10 s
}


@pytest.mark.skipif(not os.path.isdir(_SLT_DIR), reason="reference slt corpus absent")
@pytest.mark.parametrize(
    "fname",
    [
        pytest.param(f, marks=pytest.mark.slow) if f in _SLOW_FILES else f
        for f in sorted(_FILES)
    ],
)
def test_reference_sqllogictest_file(spark, fname):
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.slt import run_slt_file

    # Hermetic per-file session: temp views, temp functions, and session
    # conf are SparkSession-scoped, so a fresh sub-session (shared
    # SparkContext + metastore, private everything else) guarantees no
    # other test module's session-global temp views can shadow this
    # file's `CREATE EXTERNAL TABLE IF NOT EXISTS` fixtures — the
    # cross-module order-dependence pytest previously hit on
    # predicates/subquery/information_schema.slt. Persistent-table
    # isolation stays with run_slt_file's per-file database.
    spark = spark.newSession()
    ctx = SessionContext(spark)
    if fname == "tpch/tpch.slt":
        # regenerate the dbgen SF0.1 .tbl data the goldens were computed
        # from (cached on disk after the first run)
        from tests import tpch_tbl

        tpch_tbl.generate()
    if fname in ("avro.slt", "parquet.slt", "explain.slt"):
        # re-materialize the reference's `testing` submodule avro fixtures
        # (absent here) — see tests/avro_fixtures.py; the slt runner
        # substitutes the generated paths. alltypes_plain_multi_files is
        # registered by the reference's Rust harness, not by the file.
        from tests import avro_fixtures

        gen = avro_fixtures.generate()
        if fname == "avro.slt":
            ctx.register_avro(
                "alltypes_plain_multi_files",
                os.path.join(gen, "alltypes_plain_multi_files"),
            )
    if fname == "map.slt":
        # test_context.rs register_table_with_map: an EMPTY table with
        # (int_field bigint, map_field map<bigint,bigint>)
        ctx.register_table(
            "table_with_map",
            spark.createDataFrame(
                [], "int_field bigint, map_field map<bigint,bigint>"
            ),
        )
    if fname == "metadata.slt":
        # the reference harness creates table_with_metadata in Rust
        # (sqllogictest/src/test_context.rs register_metadata_tables:
        # id Int32 + data Utf8 with field/schema metadata, rows
        # (1,NULL),(NULL,'bar'),(3,'baz')) — register the same fixture;
        # metadata is carried opaquely by Spark and must not affect
        # query semantics, which is exactly what the file asserts
        import pyspark.sql.types as T

        ctx.register_table(
            "table_with_metadata",
            spark.createDataFrame(
                [(1, None), (None, "bar"), (3, "baz")],
                T.StructType(
                    [
                        T.StructField("id", T.IntegerType()),
                        T.StructField("data", T.StringType()),
                    ]
                ),
            ),
        )
    try:
        rep = run_slt_file(ctx, os.path.join(_SLT_DIR, fname))
    finally:
        # harness-registered fixtures are temp views on the SHARED session
        # (registered before run_slt_file's snapshot, so its own cleanup
        # treats them as pre-existing) — drop them here or they leak into
        # every later file's information_schema listings
        for fixture in ("alltypes_plain_multi_files", "table_with_metadata",
                        "table_with_map"):
            if ctx.table_exist(fixture):
                ctx.deregister_table(fixture)
    unexplained = [
        f
        for f in rep.failures
        if not any(
            f.startswith(f"{os.path.join(_SLT_DIR, k[0])}:{k[1]}:")
            for k in _KNOWN
            if k[0] == fname
        )
    ]
    assert not unexplained, "\n\n".join(unexplained)
    # the ledger must stay HONEST in both directions: an entry whose record
    # no longer fails is stale — prune it (the r8 audit direction), so the
    # documented-divergence count can only shrink by real fixes
    stale = [
        k
        for k in _KNOWN
        if k[0] == fname
        and not any(
            f.startswith(f"{os.path.join(_SLT_DIR, k[0])}:{k[1]}:")
            for f in rep.failures
        )
    ]
    assert not stale, f"stale _KNOWN entries (records now pass): {stale}"
    # on a floor miss, show WHY records were skipped: the common benign
    # cause is a record exceeding slt._RECORD_TIMEOUT_S, the per-record
    # cancel bound, on a loaded box (the skip note carries the
    # cancellation text), which is box state, not an engine regression
    assert rep.passed >= _FILES[fname], (
        rep.summary() + "\nskips:\n" + "\n".join(rep.skips[-12:])
    )


# ---------------------------------------------------------------------------
# unit tests for the tie-order classifier (no Spark needed)


def _tie_rec(sql, type_codes, expected):
    from arrow_datafusion_spark.slt import Record

    return Record(kind="query", sql=sql, line=1, type_codes=type_codes,
                  expected=expected)


def test_tie_order_requires_an_output_mapped_order_column():
    # ORDER BY names only a NON-output expression → nothing is verifiable
    # cell-for-cell; completely wrong values must NOT be downgraded to an
    # 'ORDER BY tie' divergence (round-7 advice)
    from arrow_datafusion_spark.slt import _tie_order_equivalent

    rec = _tie_rec(
        "SELECT a, b FROM t ORDER BY c LIMIT 2",
        "II",
        ["1 10", "2 20"],
    )
    assert not _tie_order_equivalent(rec, [(99, 98), (97, 96)])


def test_tie_order_interior_groups_must_match_as_multisets():
    from arrow_datafusion_spark.slt import _tie_order_equivalent

    # key column (position 0) fully matches; group key=1 is interior so its
    # unconstrained column must match as a multiset; group key=2 straddles
    # the LIMIT cut so its unconstrained cells are free
    rec = _tie_rec(
        "SELECT k, v FROM t ORDER BY k LIMIT 4",
        "II",
        ["1 10", "1 11", "2 20", "2 21"],
    )
    # legit: interior group {10,11} permuted, boundary group picks other ties
    assert _tie_order_equivalent(rec, [(1, 11), (1, 10), (2, 99), (2, 98)])
    # corruption: interior group's unconstrained value wrong
    assert not _tie_order_equivalent(rec, [(1, 11), (1, 77), (2, 20), (2, 21)])


def test_tie_order_constrained_cells_checked_in_order():
    from arrow_datafusion_spark.slt import _tie_order_equivalent

    rec = _tie_rec(
        "SELECT k, v FROM t ORDER BY k LIMIT 2",
        "II",
        ["1 10", "2 20"],
    )
    assert not _tie_order_equivalent(rec, [(2, 20), (1, 10)])


def test_top_level_order_by_reads_past_literals_and_identifiers():
    # a ')' inside a literal or a quoted identifier opens and closes nothing
    from arrow_datafusion_spark.slt import (
        _has_top_level_order_by,
        _order_by_output_positions,
    )

    assert _has_top_level_order_by("SELECT ')' AS a FROM t ORDER BY a")
    assert _has_top_level_order_by('SELECT "(" FROM t ORDER BY 1')
    assert not _has_top_level_order_by(
        "SELECT first_value(a ORDER BY b) FROM t"
    )
    assert _order_by_output_positions(
        "SELECT a, ')' AS b FROM t ORDER BY b", 2
    ) == [1]
    # equal literals on both sides still match as one expression
    assert _order_by_output_positions(
        "SELECT a, b || ', ' FROM t ORDER BY b || ', ' LIMIT 1", 2
    ) == [1]
