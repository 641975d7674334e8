"""Aggregate-function suite (SURVEY.md §2.4): exercises the AGGREGATE
registry — statistics, ordered first/last/nth, string_agg/array_agg,
bit/bool aggregates, median, ROLLUP/CUBE/GROUPING SETS — against DuckDB.

Reference registry: datafusion/functions-aggregate/src/lib.rs:125-161;
grouping sets expr/src/expr.rs:951-958; test corpus aggregate.slt.

Float-statistics determinism: stddev/var/corr/covar/regr accumulate doubles
whose partial-merge order differs between Spark (distributed Welford merge)
and DuckDB — results agree to ~1e-12 relative, so both sides round: enough
decimals to be a real test, few enough that last-ulp noise can't flip the
driver's value hash. approx_* sketches are structurally different
(HyperLogLog++/KLL here, HLL/t-digest in the reference), so they get a
rows-only entry plus an error-bound pytest instead of a hash oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrow_datafusion_spark.functions.aggregate import AGGREGATE as A
from arrow_datafusion_spark.session import load_tables

_DEC = "decimal(38,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir, names=(name,))[name]


# --------------------------------------------------------------------------
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion + bivariate statistics per group (stddev.rs, variance.rs,
    covariance.rs, correlation.rs, regr.rs)."""
    li = _t(spark, sf_dir, "lineitem")
    q, d, p = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(A["stddev_samp"](q), 6).alias("sd_qty"),
        F.round(A["stddev_pop"](q), 6).alias("sdp_qty"),
        F.round(A["var_samp"](q), 6).alias("var_qty"),
        F.round(A["var_pop"](q), 6).alias("varp_qty"),
        F.round(A["covar_samp"](q, d), 8).alias("cov_qd"),
        F.round(A["covar_pop"](q, d), 8).alias("covp_qd"),
        F.round(A["corr"](q, p), 8).alias("corr_qp"),
        F.round(A["regr_slope"](p, q), 4).alias("slope"),
        F.round(A["regr_intercept"](p, q), 4).alias("icept"),
        A["regr_count"](p, q).alias("rcount"),
        F.round(A["regr_r2"](p, q), 8).alias("r2"),
        F.round(A["regr_avgx"](p, q), 6).alias("avgx"),
        F.round(A["regr_avgy"](p, q), 4).alias("avgy"),
        F.round(A["regr_sxx"](p, q) / 1e6, 4).alias("sxx_m"),
        F.round(A["regr_syy"](p, q) / 1e9, 4).alias("syy_b"),
        F.round(A["regr_sxy"](p, q) / 1e6, 4).alias("sxy_m"),
    ).orderBy("l_returnflag")


AGG_STATS_SQL = """
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(stddev_pop(l_quantity), 6) AS sdp_qty,
       round(var_samp(l_quantity), 6) AS var_qty,
       round(var_pop(l_quantity), 6) AS varp_qty,
       round(covar_samp(l_quantity, l_discount), 8) AS cov_qd,
       round(covar_pop(l_quantity, l_discount), 8) AS covp_qd,
       round(corr(l_quantity, l_extendedprice), 8) AS corr_qp,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
       regr_count(l_extendedprice, l_quantity) AS rcount,
       round(regr_r2(l_extendedprice, l_quantity), 8) AS r2,
       round(regr_avgx(l_extendedprice, l_quantity), 6) AS avgx,
       round(regr_avgy(l_extendedprice, l_quantity), 4) AS avgy,
       round(regr_sxx(l_extendedprice, l_quantity) / 1e6, 4) AS sxx_m,
       round(regr_syy(l_extendedprice, l_quantity) / 1e9, 4) AS syy_b,
       round(regr_sxy(l_extendedprice, l_quantity) / 1e6, 4) AS sxy_m
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
def agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive aggregates made shuffle-proof: first/last via
    min_by/max_by, nth via sorted-collect, string_agg/array_agg sorted
    (first_last.rs, string_agg.rs, array_agg*.rs)."""
    s = _t(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        A["first_value"](F.col("s_name"), F.col("s_suppkey")).alias("first_name"),
        A["last_value"](F.col("s_name"), F.col("s_suppkey")).alias("last_name"),
        A["nth_value"](F.col("s_name"), 2).alias("second_name"),
        A["string_agg"](F.col("s_name"), ",").alias("names_csv"),
        # '|'-joined for the driver canonicalizer (it can't hash array cells);
        # the aggregate itself still returns a real ARRAY.
        F.array_join(
            A["array_agg_ordered"](F.col("s_name")).cast("array<string>"), "|"
        ).alias("names_arr"),
        F.array_join(
            A["array_agg_distinct"](F.col("s_suppkey") % 5).cast("array<string>"), "|"
        ).alias("mod5_set"),
        A["count"]().alias("n"),
        A["count_distinct"](F.col("s_suppkey") % 5).alias("n_mod5"),
    ).orderBy("s_nationkey")


AGG_ORDERED_SQL = """
SELECT s_nationkey,
       arg_min(s_name, s_suppkey) AS first_name,
       arg_max(s_name, s_suppkey) AS last_name,
       list_sort(list(s_name))[2] AS second_name,
       string_agg(s_name, ',' ORDER BY s_name) AS names_csv,
       array_to_string(list_sort(list(s_name)), '|') AS names_arr,
       array_to_string(list_sort(list_distinct(list(s_suppkey % 5))), '|') AS mod5_set,
       count(*) AS n,
       count(DISTINCT s_suppkey % 5) AS n_mod5
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


# --------------------------------------------------------------------------
def agg_bits_bools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_and/or/xor, bool_and/or, median (bit_and_or_xor.rs,
    bool_and_or.rs, median.rs)."""
    n = _t(spark, sf_dir, "nation")
    key = F.col("n_nationkey")
    return n.groupBy("n_regionkey").agg(
        A["bit_and"](key).alias("b_and"),
        A["bit_or"](key).alias("b_or"),
        A["bit_xor"](key).alias("b_xor"),
        A["bool_and"](key % 2 == 0).alias("all_even"),
        A["bool_or"](key % 2 == 0).alias("any_even"),
        A["median"](key).alias("med_key"),
        A["min"](key).alias("min_key"),
        A["max"](key).alias("max_key"),
        A["sum"](key).alias("sum_key"),
        A["avg"](key).alias("avg_key"),
    ).orderBy("n_regionkey")


AGG_BITS_BOOLS_SQL = """
SELECT n_regionkey,
       bit_and(n_nationkey) AS b_and,
       bit_or(n_nationkey) AS b_or,
       bit_xor(n_nationkey) AS b_xor,
       bool_and(n_nationkey % 2 = 0) AS all_even,
       bool_or(n_nationkey % 2 = 0) AS any_even,
       median(n_nationkey) AS med_key,
       min(n_nationkey) AS min_key,
       max(n_nationkey) AS max_key,
       CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
       avg(n_nationkey) AS avg_key
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


# --------------------------------------------------------------------------
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + GROUPING indicator (Expr::GroupingSet, expr.rs:951-958)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.round(F.sum(F.col("s_acctbal").cast(_DEC)), 2).cast("double").alias("bal"),
            A["grouping"](F.col("r_name")).alias("g_region"),
            A["grouping"](F.col("n_name")).alias("g_nation"),
        )
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


AGG_ROLLUP_SQL = """
SELECT r_name, n_name, count(*) AS n_supp,
       CAST(round(sum(CAST(s_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS bal,
       CAST(GROUPING(r_name) AS TINYINT) AS g_region,
       CAST(GROUPING(n_name) AS TINYINT) AS g_nation
FROM supplier, nation, region
WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
"""


# --------------------------------------------------------------------------
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two order dimensions."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


AGG_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


# --------------------------------------------------------------------------
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — not just the ROLLUP/CUBE special cases
    (Expr::GroupingSet::GroupingSets, expr.rs:951): status-only, priority-
    only, and grand-total sets in one pass, via SQL (Spark's DataFrame API
    exposes only rollup/cube; SQL exposes the general form)."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
                 AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """)


AGG_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


# --------------------------------------------------------------------------
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches (approx_distinct.rs HLL, approx_percentile_cont.rs
    t-digest → Spark HyperLogLog++ / KLL).

    Raw sketch values can never hash-match a different engine's sketch
    family, so the entry emits *bound checks* instead: each approx value is
    compared against the exact value (computed in the same query) and the
    result is a 0/1 column. The oracle emits the exact ndv cross-engine plus
    constant-1 check columns — a hash match therefore certifies both the
    exact ndv agreement and that every Spark sketch landed inside its
    documented error bound (HLL++ at the reference's 2^14-register
    precision, rsd 0.00865 → p=14 under Spark's ceil(2·log2(1.106/rsd)) —
    the ±10% gate is comfortably loose; percentile ±5%)."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        A["approx_distinct"](F.col("l_partkey")).alias("nd_a"),
        F.countDistinct(F.col("l_partkey")).alias("nd_e"),
        A["approx_median"](price).alias("med_a"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("med_e"),
        A["approx_percentile_cont"](price, 0.9).alias("p90_a"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_e"),
    )
    return g.select(
        "l_returnflag",
        F.col("nd_e").cast("long").alias("nd_exact"),
        (F.abs(F.col("nd_a") - F.col("nd_e")) <= 0.10 * F.col("nd_e"))
        .cast("int")
        .alias("nd_ok"),
        (F.abs(F.col("med_a") - F.col("med_e")) <= 0.05 * F.col("med_e"))
        .cast("int")
        .alias("med_ok"),
        (F.abs(F.col("p90_a") - F.col("p90_e")) <= 0.05 * F.col("p90_e"))
        .cast("int")
        .alias("p90_ok"),
    ).orderBy("l_returnflag")


AGG_APPROX_SQL = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_exact,
       1 AS nd_ok,
       1 AS med_ok,
       1 AS p90_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def agg_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The faithful t-digest SQL surface (functions/tdigest.py — the
    reference's merging digest, approx_percentile_cont.rs + tdigest.rs),
    driver-gated through ``SessionContext.sql``.

    Sketch estimates can't hash-match a different engine, so the entry
    emits deterministic 0/1 checks: the digest's median/p90 within ±5%
    of the EXACT percentile computed in the same query (mixing the
    pandas-UDF digest with builtin aggregates — the collect_list surface
    allows it), the 3-arg centroid-budget form within the same bound,
    and the weight-1 with_weight digest EQUAL to the unweighted digest
    (all-ones weights produce the identical centroid list — the slt
    golden's invariant). The digest sorts its value set internally, so
    every check is shuffle-order-insensitive."""
    from arrow_datafusion_spark.context import SessionContext

    ctx = SessionContext(spark)
    ctx.register_parquet("lineitem", f"{sf_dir}/lineitem.parquet")
    return ctx.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(abs(approx_median(CAST(l_extendedprice AS DOUBLE))
                        - percentile(CAST(l_extendedprice AS DOUBLE), 0.5))
                    <= 0.05 * percentile(CAST(l_extendedprice AS DOUBLE), 0.5)
                    AS INT) AS med_ok,
               CAST(abs(approx_percentile_cont(
                            CAST(l_extendedprice AS DOUBLE), 0.9)
                        - percentile(CAST(l_extendedprice AS DOUBLE), 0.9))
                    <= 0.05 * percentile(CAST(l_extendedprice AS DOUBLE), 0.9)
                    AS INT) AS p90_ok,
               CAST(abs(approx_percentile_cont(
                            CAST(l_extendedprice AS DOUBLE), 0.9, 200)
                        - percentile(CAST(l_extendedprice AS DOUBLE), 0.9))
                    <= 0.05 * percentile(CAST(l_extendedprice AS DOUBLE), 0.9)
                    AS INT) AS p90_budget_ok,
               CAST(approx_percentile_cont_with_weight(
                        CAST(l_extendedprice AS DOUBLE), 1, 0.5)
                    = approx_median(CAST(l_extendedprice AS DOUBLE))
                    AS INT) AS weight1_eq
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


AGG_TDIGEST_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS cnt,
       1 AS med_ok,
       1 AS p90_ok,
       1 AS p90_budget_ok,
       1 AS weight1_eq
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


QUERIES = {
    "agg_stats": agg_stats,
    "agg_ordered": agg_ordered,
    "agg_bits_bools": agg_bits_bools,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_approx": agg_approx,
    "agg_tdigest": agg_tdigest,
}
ORACLE = {
    "agg_stats": AGG_STATS_SQL,
    "agg_ordered": AGG_ORDERED_SQL,
    "agg_bits_bools": AGG_BITS_BOOLS_SQL,
    "agg_rollup": AGG_ROLLUP_SQL,
    "agg_cube": AGG_CUBE_SQL,
    "agg_grouping_sets": AGG_GROUPING_SETS_SQL,
    "agg_approx": AGG_APPROX_SQL,
    "agg_tdigest": AGG_TDIGEST_SQL,
}
