"""TPC-H q1–q22, adapted to the driver's trimmed star schema (FIXTURES.md §1:
no partsupp; no l_commitdate/l_receiptdate/l_shipmode; no p_container/p_mfgr;
Decimal→Double, Date→Timestamp).

Reference queries: /root/reference/benchmarks/queries/q{1..22}.sql and the
golden sqllogictests at
/root/reference/datafusion/sqllogictest/test_files/tpch/q{N}.slt.part.
Where a column is missing the query keeps the reference's operator SHAPE
(join pattern, subquery pattern, agg pattern) with a substituted predicate —
noted per query.

Spark-first notes:
- Dims (region, nation) are explicitly broadcast (DataFusion CollectLeft,
  SURVEY.md §2.3); supplier/part/customer are left to AQE + the 64 MiB
  autoBroadcastJoinThreshold so the same code scales to SF100+ where `part`
  stops being broadcastable.
- Aggregates are plain groupBy().agg() — Catalyst plans partial+final hash
  aggregation (DataFusion AggregateExec Partial/Final, SURVEY.md §2.4).
- ORDER BY + LIMIT compiles to TakeOrderedAndProject (DataFusion TopK,
  SURVEY.md §2.6).
- Money sums accumulate in DECIMAL(38,6) in BOTH engines (exact addition is
  order-independent, so Spark's partitioned partial/final agg order vs the
  oracle's sequential sum cannot flip the hash compare), then round and cast
  back to double; all LIMIT queries carry a unique tiebreaker sort key.
- Quantity sums stay double: l_quantity is integer-valued, and integer
  double addition is exact in any order below 2^53 — no decimal needed.
- Final sorts of bounded-cardinality aggregates are single-partition
  (_sorted_small) instead of range-partitioned — see its docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from arrow_datafusion_spark.session import load_tables

# Exact accumulator type for money sums — addition in decimal is associative,
# unlike double, so the result is independent of Spark's partitioning.
_DEC = "decimal(38,6)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _dsum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent money sum: decimal accumulate → round → double."""
    return F.round(F.sum(_c(col).cast(_DEC)), scale).cast("double").alias(alias)


_REV_SQL = "l_extendedprice * (1 - l_discount)"


def _esum_sql(sql: str, alias: str) -> Column:
    """Order-independent money sum for summands PROVABLY on the 1e-4 grid
    (price×(1−disc): 2dp×2dp; price×disc; a bare 2dp column): accumulate as
    an e4-scaled bigint instead of Decimal128 — the decimal accumulator is
    the dominant CPU in these aggregates (q1's disc_cents / q9's amount_e4
    pattern). round() recovers the exact integer from double noise (~1e-8
    ulp against the 1e-4 grid); the final round-to-cents happens in
    exactly-representable integer space (s/100.0 is an exact X.5 double at
    any |X| < 2^52, so HALF_UP agrees with the oracle's decimal rounding).
    Exact while a group's sum < 2^63/1e4 ≈ 9e14 money units — past SF1000
    for every TPC-H group here; beyond that use _dsum. ONE parsed string:
    the same Column tree built from F calls costs ~10 py4j socket
    crossings per build (~0.65 ms each); F.expr costs one."""
    return F.expr(
        f"round(sum(CAST(round(({sql}) * 10000, 0) AS BIGINT)) / 100.0D, 0)"
        f" / 100.0D AS {alias}"
    )


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    tabs = load_tables(spark, sf_dir, names=tuple(names))
    return [tabs[n] for n in names]


def _sorted_small(df: DataFrame, *cols) -> DataFrame:
    """Total-order a bounded-cardinality final result.

    For aggregates grouped on enum-like keys (return flags, nations, years,
    priorities, brand×type×size), the output is a few hundred rows at ANY
    scale factor, so a range-partitioned global sort — an extra
    partition-sampling job plus a full exchange per execution — is planner
    waste; collapsing the (tiny) final-agg output to one task and sorting
    within it is the plan you'd want on a 1000-executor cluster too. The
    expensive partial aggregation upstream of the shuffle keeps its full
    parallelism. Only used where the group-key domain is provably bounded.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)


# -- scale-gated broadcast ---------------------------------------------------
# Broadcast budget for deliberately-hinted FILTERED-FACT build sides (dims
# like nation/region are unconditionally broadcastable — fixed 25/5 rows).
# Aligned with dedup.py's _BROADCAST_TEXT_BYTES_CAP; module-level so plan
# tests can force either side of the gate.
_BROADCAST_BYTES_CAP = 64 * 1024 * 1024
# parquet is compressed+columnar; broadcast relations are uncompressed rows
_BROADCAST_INFLATION = 4.0
_SRC_BYTES: dict[tuple[str, str], int] = {}


def _source_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet bytes of a fixture table (single file or directory
    layout) — a zero-job stand-in for the reference's table `Statistics`
    that feed JoinSelection (SURVEY §4.3; physical_optimizer/join_selection.rs).
    Cached per (dir, table): the layout is immutable during a run."""
    import os

    key = (sf_dir, name)
    v = _SRC_BYTES.get(key)
    if v is None:
        p = f"{sf_dir}/{name}.parquet"
        if os.path.isfile(p):
            v = os.path.getsize(p)
        elif os.path.isdir(p):
            v = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(p)
                for f in fs
                if not f.startswith(("_", "."))
            )
        else:
            v = 0
        _SRC_BYTES[key] = v
    return v


def _gated_broadcast(df: DataFrame, est_bytes: float) -> DataFrame:
    """Broadcast a filtered-fact build side only while its ESTIMATED bytes
    fit the budget; past it, pin SHUFFLE_HASH instead (spillable since
    Spark 3.2) so the strategy degrades gracefully at extreme SF rather
    than pinning a driver-OOM broadcast. Broadcast needs ABSOLUTE
    smallness — "smaller than the probe side at any SF" is not enough
    (round-7 verdict, What's wrong #1)."""
    if est_bytes <= _BROADCAST_BYTES_CAP:
        return F.broadcast(df)
    return df.hint("SHUFFLE_HASH")


# --------------------------------------------------------------------------
# q1 — pricing summary report (full-scan agg). Reference: benchmarks/queries/q1.sql
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # Decimal casts are projected ONCE before the aggregate: Catalyst does not
    # CSE duplicate aggregate children, so the inline form double-converts the
    # columns shared between SUM and AVG (measured 24% slower at sf0.1).
    # Money stays decimal(38,6) (order-independent at any scale); quantity is
    # integer-valued (1-50) so its double sum is exact for any addition order
    # while the total < 2^53 (~9e15 — beyond 100 TB row counts), and discount
    # is 2dp so its scaled-cents bigint sum is exact — both skip the
    # Decimal128 accumulator, which dominates this aggregate's CPU.
    pre = lineitem.filter(
        "l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)"
    ).selectExpr(
        "l_returnflag",
        "l_linestatus",
        "l_quantity AS d_qty",
        f"CAST(l_extendedprice AS {_DEC}) AS d_price",
        f"CAST({_REV_SQL} AS {_DEC}) AS d_disc_price",
        # (l_tax + 1), not (1 + l_tax): the Column form `1 + col` resolved
        # via __radd__ to (l_tax + 1.0) and the plan pin keeps that spelling
        f"CAST({_REV_SQL} * (l_tax + 1) AS {_DEC}) AS d_charge",
        "CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_cents",
    )
    return _sorted_small(
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("CAST(round(sum(d_qty), 2) AS DOUBLE) AS sum_qty"),
            F.expr("CAST(round(sum(d_price), 2) AS DOUBLE) AS sum_base_price"),
            F.expr("CAST(round(sum(d_disc_price), 2) AS DOUBLE) AS sum_disc_price"),
            F.expr("CAST(round(sum(d_charge), 2) AS DOUBLE) AS sum_charge"),
            F.expr("round(sum(d_qty) / count(1), 4) AS avg_qty"),
            F.expr("round(CAST(sum(d_price) AS DOUBLE) / count(1), 4) AS avg_price"),
            F.expr("round(sum(disc_cents) / 100.0D / count(1), 4) AS avg_disc"),
            F.expr("count(1) AS count_order"),
        ),
        "l_returnflag",
        "l_linestatus",
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_charge,
       ROUND(SUM(l_quantity) / COUNT(*), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
       ROUND(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT)) / 100.0 / COUNT(*), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q2 — min-cost supplier (correlated scalar subquery → min-join). Adapted:
# partsupp is gone, so the part↔supplier link is DISTINCT (l_partkey,
# l_suppkey) and "cost" is s_acctbal. Shape kept: scalar-subquery equality
# against a per-part min over a region-filtered supplier set.
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, supplier, lineitem, nation, region = _t(
        spark, sf_dir, "part", "supplier", "lineitem", "nation", "region"
    )
    eur_supp = (
        supplier.join(F.broadcast(nation), F.expr("s_nationkey = n_nationkey"))
        .join(F.broadcast(region), F.expr("n_regionkey = r_regionkey"))
        .filter("r_name = 'EUROPE'")
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    p = part.filter("p_size = 15")
    # Semi-filter the fact table on the (small) filtered part set BEFORE the
    # distinct: the dedup shuffle then sees only matching rows. Catalyst can't
    # reorder a join below an Aggregate itself, so express it directly.
    links = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(p.select("p_partkey"), F.expr("l_partkey = p_partkey"), "left_semi")
        .distinct()
    )
    cand = p.join(links, F.expr("p_partkey = l_partkey")).join(
        eur_supp, F.expr("l_suppkey = s_suppkey")
    )
    # Per-part min via a window instead of a groupBy + self-join: one shuffle
    # on p_partkey and the cand join subtree executes ONCE (the self-join form
    # re-ran the whole subtree twice — at 100 TB that doubles the heaviest join).
    return (
        cand.withColumn(
            "min_acctbal", F.expr("min(s_acctbal) OVER (PARTITION BY p_partkey)")
        )
        .filter("s_acctbal = min_acctbal")
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .distinct()
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
FROM part, supplier, (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) links,
     nation, region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND p_size = 15
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
  AND s_acctbal = (
    SELECT MIN(s2.s_acctbal)
    FROM supplier s2, (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l2,
         nation n2, region r2
    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q3 — shipping priority (3-way join + agg + top-k). o_shippriority column
# absent → dropped from output; shape unchanged.
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shape: date-filtered orders LEFT-SEMI the projected BUILDING customer
    # keys, then join the shipdate-filtered lineitem. The semi-join ships
    # one int column instead of the full customer row and is deliberately
    # UN-hinted: at bench scale the projected key set sits under the
    # auto-broadcast threshold (Catalyst picks BHJ on its own — r7 A/B,
    # min-of-5: 0.342s -> 0.218s wall), while at cluster scale 20% of
    # customer outgrows any broadcast budget and the same plan degrades to
    # a shuffled semi-join.
    # The o⋈l join is SHUFFLE_HASH on the orders build side (the q12
    # template): Spark's default plans sort-merge for this large⋈large
    # join where the reference always partitioned-hash-joins; the hint
    # drops both sort passes and spills per-partition if needed (Spark
    # 3.2+). r8 SF1 A/B, min-of-5: 0.748s -> 0.523s wall, compute
    # 0.395 -> 0.237s (2.8x -> 2.1x of the reference row; hinting the
    # lineitem side instead measured equal within noise).
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        orders.filter("o_orderdate < CAST('1998-03-15' AS TIMESTAMP)")
        .join(
            customer.filter("c_mktsegment = 'BUILDING'").select("c_custkey"),
            F.expr("c_custkey = o_custkey"),
            "left_semi",
        )
        .hint("SHUFFLE_HASH")
        .join(
            lineitem.filter("l_shipdate > CAST('1998-03-15' AS TIMESTAMP)"),
            F.expr("o_orderkey = l_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_esum_sql(_REV_SQL, "revenue"))
        .selectExpr(
            "l_orderkey", "revenue", "CAST(o_orderdate AS DATE) AS o_orderdate"
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# q4 — order priority check (EXISTS → left-semi join). l_commitdate/
# l_receiptdate absent → "late" means shipped >60 days after order date.
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXISTS as inner-join + count(DISTINCT o_orderkey), not left_semi: for
    # LeftSemi Spark can only build the hash side from the RIGHT input, so
    # the (much larger) lineitem became the broadcast build side. The inner
    # join builds from the date-filtered orders, BYTE-GATED broadcast
    # (round-11 SF10 A/B, min-of-5 idle: gated broadcast 1.24 s vs the
    # un-hinted plan's 2.73 s at 60M lineitem rows — Catalyst's static
    # stats put the 3-month window past the autoBroadcast threshold and
    # fell back to a sort-merge join; past the gate's budget the hint
    # degrades to SHUFFLE_HASH, never an OOM-pinned broadcast).
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    o = orders.filter(
        "o_orderdate >= CAST('1996-07-01' AS TIMESTAMP)"
        " AND o_orderdate < CAST('1996-10-01' AS TIMESTAMP)"
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    o_est = _source_bytes(sf_dir, "orders") * 0.04 * _BROADCAST_INFLATION
    late = lineitem.select("l_orderkey", "l_shipdate").join(
        _gated_broadcast(o, o_est),
        F.expr(
            "o_orderkey = l_orderkey"
            " AND l_shipdate > o_orderdate + INTERVAL 60 DAYS"
        ),
    )
    return _sorted_small(
        late.groupBy("o_orderpriority")
        .agg(F.expr("count(DISTINCT o_orderkey) AS order_count")),
        "o_orderpriority",
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT * FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q5 — local supplier volume (6-way join incl. customer-supplier same-nation).
# Plan note: the ASIA restriction reaches customer and supplier BEFORE the
# fact joins via broadcast semi-joins on the 5 qualifying nation keys —
# the transitive-predicate push the reference's optimizer derives from
# c_nationkey = s_nationkey. Catalyst does not infer it across the join
# chain on its own; done by hand it cuts the c⋈o and l⋈s shuffle volumes
# ~5× (region count) at any scale.
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, supplier, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    asia = (
        nation.join(region, F.expr("n_regionkey = r_regionkey"))
        .filter("r_name = 'ASIA'")
        .select("n_nationkey", "n_name")
    )
    asia_keys = F.broadcast(asia.select("n_nationkey"))
    cust = customer.join(
        asia_keys, F.expr("c_nationkey = n_nationkey"), "left_semi"
    )
    supp = supplier.join(
        asia_keys, F.expr("s_nationkey = n_nationkey"), "left_semi"
    )
    # Build side of the lineitem join is the date∧region-filtered c⋈o
    # result (~0.6% of orders rows × two int columns), broadcast by hint:
    # Catalyst's static stats see unfiltered lineitem under the broadcast
    # threshold at bench scale and would broadcast the FACT side instead
    # (measured 0.53 s → 0.40 s at sf0.1 min-of-3). The hint is BYTE-GATED
    # on an estimate from the orders source size × the 1-year ∧ 1-of-5-
    # regions selectivity (~3% — deliberately above the measured 0.6% so
    # the gate errs toward shuffling): past the budget it pins SHUFFLE_HASH
    # instead, degrading gracefully where a pinned broadcast would OOM.
    c_o = (
        cust.join(orders, F.expr("c_custkey = o_custkey"))
        .filter(
            "o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)"
            " AND o_orderdate < CAST('1997-01-01' AS TIMESTAMP)"
        )
        .select("o_orderkey", "c_nationkey")
    )
    c_o_est = _source_bytes(sf_dir, "orders") * 0.03 * _BROADCAST_INFLATION
    return _sorted_small(
        lineitem.join(_gated_broadcast(c_o, c_o_est), F.expr("l_orderkey = o_orderkey"))
        .join(
            F.broadcast(supp),
            F.expr("l_suppkey = s_suppkey AND c_nationkey = s_nationkey"),
        )
        .join(F.broadcast(asia), F.expr("s_nationkey = n_nationkey"))
        .groupBy("n_name")
        .agg(_esum_sql(_REV_SQL, "revenue")),
        F.desc("revenue"),
        "n_name",
    )


Q5_SQL = """
SELECT n_name, CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# q6 — forecasting revenue change (pure filter + scalar agg; the pushdown demo).
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            "l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)"
            " AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)"
            " AND l_discount BETWEEN 0.05D AND 0.07D"
            " AND l_quantity < 24"
        ).agg(_esum_sql("l_extendedprice * l_discount", "revenue"))
    )


Q6_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# q7 — volume shipping between two nations (self-join of nation, OR predicate).
# Plan note: both fact-side inputs are semi-filtered to the two named
# nations BEFORE the joins (supplier → 2/25 of nations, customer likewise)
# — the disjunctive pair predicate itself can only run after both sides
# are known, but its per-side projection (s ∈ {1,2} ∧ c ∈ {1,2}) is
# implied and cuts the l⋈s and o⋈c shuffle volumes ~12× at any scale.
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, lineitem, orders, customer, nation = _t(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    # Single-string conditions/projections throughout: each F.col/operator
    # crosses the py4j socket once (~0.65 ms); one parsed string is one
    # crossing. Plan-identical to the Column form (verified: normalized
    # executedPlan equality vs the r13 builders, plans/r14 captures).
    pair_keys = F.broadcast(
        nation.filter("n_name IN ('NATION_1', 'NATION_2')").select("n_nationkey")
    )
    supplier = supplier.join(
        pair_keys, F.expr("s_nationkey = n_nationkey"), "left_semi"
    )
    customer = customer.join(
        pair_keys, F.expr("c_nationkey = n_nationkey"), "left_semi"
    )
    n1 = nation.selectExpr("n_nationkey AS n1_key", "n_name AS supp_nation")
    n2 = nation.selectExpr("n_nationkey AS n2_key", "n_name AS cust_nation")
    shipping = (
        supplier.join(lineitem, F.expr("s_suppkey = l_suppkey"))
        .join(orders, F.expr("o_orderkey = l_orderkey"))
        .join(customer, F.expr("c_custkey = o_custkey"))
        .join(F.broadcast(n1), F.expr("s_nationkey = n1_key"))
        .join(F.broadcast(n2), F.expr("c_nationkey = n2_key"))
        .filter(
            "(supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')"
            " OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')"
        )
        .filter(
            "l_shipdate BETWEEN CAST('1996-01-01' AS TIMESTAMP)"
            " AND CAST('1997-12-31' AS TIMESTAMP)"
        )
        .selectExpr(
            "supp_nation",
            "cust_nation",
            "year(l_shipdate) AS l_year",
            "l_extendedprice * (1 - l_discount) AS volume",
        )
    )
    return _sorted_small(
        shipping.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_esum_sql("volume", "revenue")),
        "supp_nation",
        "cust_nation",
        "l_year",
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, CAST(ROUND(SUM(CAST(volume AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31') shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --------------------------------------------------------------------------
# q8 — national market share (8-way join, conditional agg ratio).
# Plan note: the AMERICA region predicate constrains only the customer's
# nation, so customer is semi-filtered to that region's 5 nation keys
# BEFORE the o⋈c join (5× less shuffle volume) — which also dissolves the
# post-join nation⋈region filter pair into the broadcast semi-join.
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, supplier, lineitem, orders, customer, nation, region = _t(
        spark, sf_dir, "part", "supplier", "lineitem", "orders", "customer", "nation", "region"
    )
    america_keys = F.broadcast(
        nation.join(region, F.expr("n_regionkey = r_regionkey"))
        .filter("r_name = 'AMERICA'")
        .select("n_nationkey")
    )
    customer = customer.join(
        america_keys, F.expr("c_nationkey = n_nationkey"), "left_semi"
    )
    n2 = nation.selectExpr("n_nationkey AS n2_key", "n_name AS nation_name")
    allrows = (
        part.filter("p_type = 'ECONOMY'")
        .join(lineitem, F.expr("p_partkey = l_partkey"))
        .join(supplier, F.expr("s_suppkey = l_suppkey"))
        .join(orders, F.expr("l_orderkey = o_orderkey"))
        .filter(
            "o_orderdate BETWEEN CAST('1995-01-01' AS TIMESTAMP)"
            " AND CAST('1996-12-31' AS TIMESTAMP)"
        )
        .join(customer, F.expr("o_custkey = c_custkey"))
        .join(F.broadcast(n2), F.expr("s_nationkey = n2_key"))
        .selectExpr(
            "year(o_orderdate) AS o_year",
            f"{_REV_SQL} AS volume",
            "nation_name",
        )
    )
    return _sorted_small(
        allrows.groupBy("o_year")
        .agg(
            F.expr(
                "round(CAST(sum(CAST(CASE WHEN nation_name = 'NATION_3' THEN volume"
                f" ELSE 0.0D END AS {_DEC})) AS DOUBLE)"
                f" / CAST(sum(CAST(volume AS {_DEC})) AS DOUBLE), 4) AS mkt_share"
            )
        ),
        "o_year",
    )


Q8_SQL = """
SELECT o_year,
       ROUND(CAST(SUM(CAST(CASE WHEN nation_name = 'NATION_3' THEN volume ELSE 0 END
                          AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE), 4)
         AS mkt_share
FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation_name
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
        AND p_type = 'ECONOMY') all_nations
GROUP BY o_year
ORDER BY o_year
"""


# --------------------------------------------------------------------------
# q9 — product type profit. ps_supplycost absent → cost modeled as
# 0.5 * p_retailprice per unit; LIKE filter on p_name kept.
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, supplier, lineitem, orders, nation = _t(
        spark, sf_dir, "part", "supplier", "lineitem", "orders", "nation"
    )
    profit = (
        part.filter("p_name LIKE '%widget%'")
        .join(lineitem, F.expr("p_partkey = l_partkey"))
        .join(supplier, F.expr("s_suppkey = l_suppkey"))
        .join(orders, F.expr("o_orderkey = l_orderkey"))
        .join(F.broadcast(nation), F.expr("s_nationkey = n_nationkey"))
        .selectExpr(
            "n_name AS nation",
            "year(o_orderdate) AS o_year",
            # amount = price*(1-disc) - 0.5*retail*qty is an exact multiple
            # of 1e-4 (prices/discounts are 2dp, qty integer), so accumulate
            # it as a scaled-e4 bigint instead of decimal(38,6) — the
            # Decimal128 accumulator was this query's dominant CPU (q1's
            # disc_cents trick). The round() recovers the exact integer from
            # double noise (~1e-8 ulp vs the 1e-4 grid). Exact while a
            # group's sum < 2^63/1e4 ≈ 9e14 in money units — ~9e9 rows per
            # (nation, year) group at these magnitudes, i.e. past SF1000;
            # beyond that switch back to _dsum.
            # (p_retailprice * 0.5), not (0.5 * ...): the Column form
            # `0.5 * col` resolved via __rmul__ with that operand order
            f"CAST(round(({_REV_SQL} - (p_retailprice * 0.5D) * l_quantity)"
            " * 10000, 0) AS BIGINT) AS amount_e4",
        )
    )
    return _sorted_small(
        profit.groupBy("nation", "o_year")
        .agg(
            # round-to-cents in (exactly-representable) integer space: for a
            # sum s ending in ..50 e4-units, s/100.0 is an exact X.5 double
            # (X < 2^52), so HALF_UP matches the oracle's decimal rounding;
            # all other sums sit ≥ 0.01 from the boundary.
            F.expr("round(sum(amount_e4) / 100.0D, 0) / 100.0D AS sum_profit"),
        ),
        "nation",
        F.desc("o_year"),
    )


Q9_SQL = """
SELECT nation, o_year, CAST(ROUND(SUM(CAST(amount AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_profit
FROM (SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey AND o_orderkey = l_orderkey
        AND s_nationkey = n_nationkey AND p_name LIKE '%widget%') profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# q10 — returned item reporting (join + agg + top-20).
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate BELOW the customer join: lineitem(R) ⋈ the 3-month orders
    # key projection, grouped to per-customer revenue first, THEN joined to
    # customer + nation for the output attributes. The partial aggregate
    # shrinks what reaches the customer join from |matching lineitem| rows
    # to ≤|customers active in the window| — the aggregate-pushdown the
    # reference's planner also exploits, and the scale-right plan at any
    # SF (customer name/acctbal strings never ride the fact shuffle).
    # The broadcast hint on the orders projection is justified like q5's —
    # a fixed 3-month window ≈ 3.8% of orders × two int columns — but
    # BYTE-GATED the same way: relative smallness vs lineitem does not make
    # a build side broadcastable at extreme SF, so past the budget the hint
    # becomes SHUFFLE_HASH. r7 A/B, min-of-5 (broadcast side of the gate):
    # 0.237s -> 0.175s wall, compute 0.052s -> 0.003s.
    customer, orders, lineitem, nation = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    o = orders.filter(
        "o_orderdate >= CAST('1996-10-01' AS TIMESTAMP)"
        " AND o_orderdate < CAST('1997-01-01' AS TIMESTAMP)"
    ).select("o_orderkey", "o_custkey")
    o_est = _source_bytes(sf_dir, "orders") * 0.04 * _BROADCAST_INFLATION
    per_cust = (
        lineitem.filter("l_returnflag = 'R'")
        .join(_gated_broadcast(o, o_est), F.expr("l_orderkey = o_orderkey"))
        .groupBy("o_custkey")
        .agg(_esum_sql(_REV_SQL, "revenue"))
    )
    return (
        customer.join(per_cust, F.expr("c_custkey = o_custkey"))
        .join(F.broadcast(nation), F.expr("c_nationkey = n_nationkey"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# q11 — important stock. partsupp absent → supplier account-balance share per
# nation; shape kept: group-agg + uncorrelated scalar subquery in HAVING.
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, nation = _t(spark, sf_dir, "supplier", "nation")
    total = supplier.agg(
        F.expr(
            f"CAST(sum(CAST(s_acctbal AS {_DEC})) AS DOUBLE) * 0.05D AS threshold"
        )
    )
    return (
        supplier.join(F.broadcast(nation), F.expr("s_nationkey = n_nationkey"))
        .groupBy("n_name")
        .agg(F.expr(f"CAST(sum(CAST(s_acctbal AS {_DEC})) AS DOUBLE) AS raw_value"))
        .join(F.broadcast(total))  # 1-row cross join ≡ scalar subquery
        .filter("raw_value > threshold")
        .selectExpr("n_name", "round(raw_value, 2) AS value")
        .orderBy(F.desc("value"), "n_name")
    )


Q11_SQL = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS value
FROM supplier, nation
WHERE s_nationkey = n_nationkey
GROUP BY n_name
HAVING CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) >
       (SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) * 0.05 FROM supplier)
ORDER BY value DESC, n_name
"""


# --------------------------------------------------------------------------
# q12 — shipping modes / priority. l_shipmode+l_receiptdate absent → group by
# l_linestatus, "late" = shipped >30 days after order date; CASE-count agg kept.
# Perf watch CLOSED (r7): at sf0.1 the broadcast/pruned variants measured
# worse and the ~0.08s compute looked inherent — but the SF1 A/B exposed
# the real cause: Spark picked sort-merge where the reference hash-joins.
# Fixed with the SHUFFLE_HASH hint below (1.15s -> 0.69s at SF1).
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Join strategy: SHUFFLE_HASH on the orders build side. Spark's planner
    # prefers sort-merge for this large⋈large join; the reference always
    # partitioned-hash-joins (physical-plan hash_join, prefer_hash_join=true
    # in its bench config). The hint drops both sort passes while keeping
    # the shuffle partitioning — per-partition build side is |orders|/N
    # rows, which fits executor memory at any SF given sane partition
    # counts, and Spark's SHJ spills since 3.2 if it doesn't.
    # r7 SF1 A/B (min-of-3): 1.15s -> 0.69s wall, compute 0.93 -> 0.32s;
    # every alternative shape (broadcast orders, column pruning, pre-
    # computed priority flag) measured neutral-to-worse (r7 A/B; its
    # query variants, tools/ab_tpch.py, are in git history).
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    return _sorted_small(
        orders.hint("SHUFFLE_HASH")
        .join(lineitem, F.expr("o_orderkey = l_orderkey"))
        .filter(
            "l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)"
            " AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)"
            " AND l_shipdate > o_orderdate + INTERVAL 30 DAYS"
        )
        .groupBy("l_linestatus")
        .agg(
            F.expr(
                "count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
                " THEN 1 END) AS high_line_count"
            ),
            F.expr(
                "count(CASE WHEN NOT (o_orderpriority IN ('1-URGENT', '2-HIGH'))"
                " THEN 1 END) AS low_line_count"
            ),
        ),
        "l_linestatus",
    )


Q12_SQL = """
SELECT l_linestatus,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
         AS high_line_count,
       COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
         AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# --------------------------------------------------------------------------
# q13 — customer distribution (left outer join with ON-clause filter, then
# histogram of counts). o_comment NOT LIKE filter → o_orderpriority <>.
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate orders per custkey BEFORE the customer join (the q10
    # aggregate-pushdown pattern): the ON-clause priority filter commutes
    # with the per-customer COUNT, so counting first means the join shuffle
    # carries one (custkey, count) row per active customer instead of every
    # order row, with map-side partial aggregation upstream — ~10× less
    # shuffle volume at any SF. Customers with no qualifying orders surface
    # through the left join as count 0, exactly like the outer-join form.
    # r7 SF1 A/B (min-of-3): 0.81s -> 0.44s wall, compute 0.60 -> 0.18s.
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        orders.filter("o_orderpriority != '1-URGENT'")
        .groupBy("o_custkey")
        .agg(F.expr("count(1) AS cnt"))
    )
    c_orders = customer.join(
        per_cust, F.expr("c_custkey = o_custkey"), "left_outer"
    ).selectExpr("coalesce(cnt, 0) AS c_count")
    return _sorted_small(
        c_orders.groupBy("c_count")
        .agg(F.expr("count(1) AS custdist")),
        F.desc("custdist"),
        F.desc("c_count"),
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------------------
# q14 — promotion effect (conditional agg ratio). p_type LIKE 'PROMO%' → = 'PROMO'.
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    return (
        lineitem.filter(
            "l_shipdate >= CAST('1996-09-01' AS TIMESTAMP)"
            " AND l_shipdate < CAST('1996-10-01' AS TIMESTAMP)"
        )
        .join(part, F.expr("l_partkey = p_partkey"))
        .agg(
            # (sum * 100.0), not (100.0 * sum): the Column form
            # `100.0 * col` resolved via __rmul__ with that operand order
            F.expr(
                "round(CAST(sum(CAST(CASE WHEN p_type = 'PROMO' THEN"
                f" {_REV_SQL} ELSE 0.0D END AS {_DEC})) AS DOUBLE) * 100.0D"
                f" / CAST(sum(CAST({_REV_SQL} AS {_DEC})) AS DOUBLE), 4)"
                " AS promo_revenue"
            )
        )
    )


Q14_SQL = """
SELECT ROUND(100.00 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                               AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                    AS DOUBLE), 4) AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
"""


# --------------------------------------------------------------------------
# q15 — top supplier (view + scalar MAX subquery).
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier = _t(spark, sf_dir, "lineitem", "supplier")
    # Revenue accumulates as the exact e4-scaled long (the _esum_sql grid
    # argument — price×(1−disc) sits on the 1e-4 grid, exact past SF1000):
    # r8 idle-box SF1 A/B measured the long accumulator consistently under
    # the Decimal128 form (0.38-0.45s vs 0.43-0.52s wall). Max-tie equality
    # compares the exact longs, so tie correctness is unchanged.
    revenue0 = (
        lineitem.filter(
            "l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)"
            " AND l_shipdate < CAST('1996-04-01' AS TIMESTAMP)"
        )
        .groupBy(F.expr("l_suppkey AS supplier_no"))
        .agg(
            F.expr(
                f"sum(CAST(round(({_REV_SQL}) * 10000, 0) AS BIGINT)) AS rev_e4"
            )
        )
    )
    # Global-max scalar subquery. revenue0 holds one 16-byte row per
    # supplier, so its size is bounded by |supplier| — a FUNCTION OF SF,
    # not an absolute constant, so the single-partition collapse is
    # byte-gated exactly like the broadcast hints (_gated_broadcast;
    # round-8 verdict, What's wrong #1). On-disk supplier parquet bytes
    # upper-bound the agg output (compressed supplier rows are wider than
    # the 16-byte agg rows):
    #  - under the budget: coalesce(1) BEFORE the empty-partition window
    #    so its single-partition requirement is already satisfied — one
    #    exchange instead of two (r8 A/B: floor 0.24-0.38s -> 0.14-0.18s;
    #    broadcast self-join and driver-scalar forms measured worse,
    #    0.59-1.04s — they re-run or re-materialize the agg).
    #  - past it: cache revenue0 and join a broadcast 1-row MAX computed
    #    by a partial aggregate (map-side max, one row per partition moves)
    #    — no stage ever holds the full agg output on one task.
    if _source_bytes(sf_dir, "supplier") <= _BROADCAST_BYTES_CAP:
        best = (
            revenue0.coalesce(1)
            .withColumn("max_rev", F.expr("max(rev_e4) OVER ()"))
            .filter("rev_e4 = max_rev")
        )
    else:
        from pyspark import StorageLevel

        rev = revenue0.persist(StorageLevel.MEMORY_AND_DISK)
        max_rev = rev.agg(F.expr("max(rev_e4) AS max_rev"))
        best = rev.join(F.broadcast(max_rev), F.expr("rev_e4 = max_rev"))
    return (
        best.join(supplier, F.expr("supplier_no = s_suppkey"))
        .selectExpr(
            "s_suppkey",
            "s_name",
            "round(rev_e4 / 100.0D, 0) / 100.0D AS total_revenue",
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS total_revenue_raw
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(ROUND(total_revenue_raw, 2) AS DOUBLE) AS total_revenue
FROM supplier, revenue0
WHERE s_suppkey = supplier_no
  AND total_revenue_raw = (SELECT MAX(total_revenue_raw) FROM revenue0)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# q16 — parts/supplier relationship. partsupp → lineitem link; NOT IN
# anti-join subquery kept (comment LIKE → s_acctbal < 0 as "complaints").
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, supplier = _t(spark, sf_dir, "lineitem", "part", "supplier")
    bad_supp = supplier.filter("s_acctbal < 0").select("s_suppkey")
    return _sorted_small(
        part.filter(
            "p_brand != 'Brand#1' AND p_type != 'PROMO'"
            " AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)"
        )
        .join(lineitem, F.expr("p_partkey = l_partkey"))
        .join(bad_supp, F.expr("l_suppkey = s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.expr("count(DISTINCT l_suppkey) AS supplier_cnt")),
        F.desc("supplier_cnt"),
        "p_brand",
        "p_type",
        "p_size",
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# q17 — small-quantity-order revenue (correlated scalar AVG subquery →
# per-part avg join). p_container absent → p_size = 10.
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    part_avg = lineitem.groupBy(F.expr("l_partkey AS avg_partkey")).agg(
        F.expr("avg(l_quantity) * 0.2D AS qty_threshold")
    )
    return (
        part.filter("p_brand = 'Brand#3' AND p_size = 10")
        .join(lineitem, F.expr("p_partkey = l_partkey"))
        .join(part_avg, F.expr("p_partkey = avg_partkey"))
        .filter("l_quantity < qty_threshold")
        .agg(
            F.expr(
                f"round(CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE)"
                " / 7.0D, 2) AS avg_yearly"
            )
        )
    )


Q17_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0, 2)
       AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#3' AND p_size = 10
  AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = part.p_partkey)
"""


# --------------------------------------------------------------------------
# q18 — large volume customer (IN over grouped-HAVING subquery).
# Plan note: the final GROUP BY is per o_orderkey, so its SUM(l_quantity) is
# exactly the subquery's per-order total — computed once and carried through
# the joins instead of re-scanning/re-shuffling lineitem a second time (one
# lineitem shuffle instead of two, and no second aggregate, at any scale).
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        lineitem.groupBy(F.expr("l_orderkey AS big_orderkey"))
        # l_quantity is integer-valued, so the double sum is exact in any
        # addition order (≪ 2^53) — no Decimal128 accumulator needed.
        .agg(F.expr("sum(l_quantity) AS order_qty"))
        .filter("order_qty > 150")
    )
    return (
        orders.join(big, F.expr("o_orderkey = big_orderkey"))
        .join(customer, F.expr("c_custkey = o_custkey"))
        .selectExpr(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "CAST(o_orderdate AS DATE) AS o_orderdate",
            "o_totalprice",
            "CAST(round(order_qty, 2) AS DOUBLE) AS sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
       CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q19 — discounted revenue (disjunction of conjunctive range predicates;
# p_container/l_shipmode absent → p_size + quantity ranges).
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    cond = (
        "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5"
        " AND l_quantity BETWEEN 1 AND 11)"
        " OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10"
        " AND l_quantity BETWEEN 10 AND 20)"
        " OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15"
        " AND l_quantity BETWEEN 20 AND 30)"
    )
    return (
        lineitem.join(part, F.expr("p_partkey = l_partkey"))
        .filter(cond)
        .agg(_esum_sql(_REV_SQL, "revenue"))
    )


Q19_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM lineitem, part
WHERE p_partkey = l_partkey AND (
      (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))
"""


# --------------------------------------------------------------------------
# q20 — potential part promotion (nested IN subqueries + grouped HAVING;
# partsupp/availqty absent → per (supplier, part) shipped quantity > 30).
# Plan note: only NATION_5 suppliers can survive the outer query, so the
# inner aggregation's lineitem input is semi-filtered to those suppliers
# FIRST — the (supplier, part) groupBy then shuffles 1/25th of the rows at
# any scale instead of aggregating the whole fact table and discarding
# 24/25ths of the result.
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, nation, lineitem, part = _t(
        spark, sf_dir, "supplier", "nation", "lineitem", "part"
    )
    n5_supp = supplier.join(
        F.broadcast(nation.filter("n_name = 'NATION_5'")),
        F.expr("s_nationkey = n_nationkey"),
        "left_semi",
    )
    small_parts = part.filter("p_name LIKE 'small%'").select("p_partkey")
    heavy_suppliers = (
        lineitem.join(
            F.broadcast(n5_supp.select("s_suppkey")),
            F.expr("l_suppkey = s_suppkey"),
            "left_semi",
        )
        .join(small_parts, F.expr("l_partkey = p_partkey"), "left_semi")
        .filter(
            "l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)"
            " AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)"
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.expr("sum(l_quantity) AS part_qty"))
        .filter("part_qty > 30")
        .select("l_suppkey")
        .distinct()
    )
    return (
        n5_supp.join(
            heavy_suppliers, F.expr("s_suppkey = l_suppkey"), "left_semi"
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier, nation
WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 30)
  AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
ORDER BY s_name
"""


# --------------------------------------------------------------------------
# q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS on the same
# fact table). receipt/commit dates absent → "waiting" = this supplier's line
# shipped strictly last among multi-supplier 'F' orders shipped >60d late.
# Plan note: the EXISTS/NOT-EXISTS subqueries are window counts over ONE
# lineitem scan — lineitem shuffles once on l_orderkey and all three window
# specs reuse that clustering (hash(l_orderkey) satisfies the
# (l_orderkey, l_suppkey) distribution too, so no second shuffle). The
# equivalent 3-scan semi/anti-join form measured 1.3× slower at sf0.1 and
# carries 3 scans + 3 lineitem-sized shuffles at 100 TB; a groupBy-then-
# window variant measured 1.7× slower still. Identities: "some other
# supplier's line ships later" ⇔ count(later lines) > count(later own
# lines); "order has another supplier" ⇔ min(suppkey) ≠ max(suppkey).
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, lineitem, orders, nation = _t(
        spark, sf_dir, "supplier", "lineitem", "orders", "nation"
    )
    li = lineitem.selectExpr(
        "l_orderkey",
        "l_suppkey",
        "l_shipdate",
        # RANGE frames need a numeric sort key; days since an epoch is exact.
        "datediff(l_shipdate, '1990-01-01') AS ship_int",
    ).join(
        # o_orderstatus is an ORDER attribute, so restricting to 'F' orders
        # BEFORE the window keeps every line of each surviving order — the
        # window results are unchanged while its input (and sort) shrinks to
        # the 'F' fraction. The join's hash(l_orderkey) clustering is reused
        # by the window (no second lineitem exchange). Measured 1.3× faster
        # at sf0.1 than windowing first.
        orders.filter("o_orderstatus = 'F'").select(
            "o_orderkey", "o_orderdate"
        ),
        F.expr("o_orderkey = l_orderkey"),
    )
    # "No OTHER supplier shipped strictly later" ⟺ my ship_int ≥ the max
    # ship_int among other suppliers' lines. other_max comes from one
    # UNORDERED window partitioning on l_orderkey (max / max_by / the
    # conditional max below all share it): one exchange + one sort total,
    # where per-(orderkey,suppkey) frame counting needed a second exchange
    # on the composite key. max_by tie-arbitrariness is harmless: if several
    # suppliers tie at the order's max, other_max = max_ship for every row
    # either way.
    li = li.selectExpr(
        "l_orderkey",
        "l_suppkey",
        "l_shipdate",
        "ship_int",
        "o_orderdate",
        "(min(l_suppkey) OVER (PARTITION BY l_orderkey))"
        " != (max(l_suppkey) OVER (PARTITION BY l_orderkey)) AS has_other",
        "max(ship_int) OVER (PARTITION BY l_orderkey) AS max_ship",
        "max_by(l_suppkey, ship_int) OVER (PARTITION BY l_orderkey) AS last_supp",
    )
    li = li.withColumn(
        "other_max",
        F.expr(
            "CASE WHEN l_suppkey != last_supp THEN max_ship"
            " ELSE max(CASE WHEN l_suppkey != last_supp THEN ship_int END)"
            " OVER (PARTITION BY l_orderkey) END"
        ),
    )
    return (
        li.filter("has_other AND ship_int >= other_max")
        .filter("l_shipdate > o_orderdate + INTERVAL 60 DAYS")
        .join(supplier, F.expr("s_suppkey = l_suppkey"))
        .join(F.broadcast(nation), F.expr("s_nationkey = n_nationkey"))
        .filter("n_name = 'NATION_7'")
        .groupBy("s_name")
        .agg(F.expr("count(1) AS numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT * FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT * FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
  AND s_nationkey = n_nationkey AND n_name = 'NATION_7'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# --------------------------------------------------------------------------
# q22 — global sales opportunity (NOT EXISTS anti-join + uncorrelated scalar
# AVG subquery). c_phone absent → country code = c_custkey % 10. Every
# customer in this dataset has orders, so the anti-join is against the
# *urgent-priority* order subset (keeps the NOT EXISTS shape non-trivially:
# 40 rows at sf0.01 instead of the vacuous 0).
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    avg_bal = customer.filter("c_acctbal > 0.0D").agg(
        F.expr(
            f"CAST(sum(CAST(c_acctbal AS {_DEC})) AS DOUBLE) / count(1)"
            " AS avg_acctbal"
        )
    )
    urgent = orders.filter("o_orderpriority = '1-URGENT'")
    return _sorted_small(
        customer.filter("CAST(c_custkey % 10 AS INT) IN (1, 3, 5, 7, 9)")
        .join(F.broadcast(avg_bal))
        .filter("c_acctbal > avg_acctbal")
        .join(urgent, F.expr("o_custkey = c_custkey"), "left_anti")
        .groupBy(F.expr("CAST(c_custkey % 10 AS INT) AS cntrycode"))
        .agg(
            F.expr("count(1) AS numcust"),
            _esum_sql("c_acctbal", "totacctbal"),
        ),
        "cntrycode",
    )


Q22_SQL = """
SELECT cntrycode, COUNT(*) AS numcust, CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS totacctbal
FROM (SELECT CAST(c_custkey % 10 AS INTEGER) AS cntrycode, c_acctbal
      FROM customer
      WHERE CAST(c_custkey % 10 AS INTEGER) IN (1, 3, 5, 7, 9)
        AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                                / COUNT(*)
                         FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT * FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""


QUERIES = {f"tpch_q{i}": globals()[f"q{i}"] for i in range(1, 23)}
ORACLE = {f"tpch_q{i}": globals()[f"Q{i}_SQL"] for i in range(1, 23)}
