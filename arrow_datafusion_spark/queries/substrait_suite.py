"""Substrait-consumer oracle entries (SURVEY gap closed in round 8).

Two entries, two provenance levels:

- ``substrait_tpch_q1`` consumes the reference's own THIRD-PARTY Substrait
  artifact — tests/testdata/tpch_substrait_plans/query_1.json, produced by
  substrait-java's Isthmus (per its README, from the substrait-io
  consumer-testing corpus) — over a dbgen SF0.01 lineitem fixture, and the
  DuckDB oracle runs the semantically-equal SQL over the same parquet.
  That is a real cross-engine differential: plan produced by Isthmus,
  consumed by this engine, answers checked against DuckDB. (The reference
  itself only asserts the PLAN TEXT for this artifact,
  consumer_integration.rs:46 — executing it goes beyond the reference's
  own bar. DuckDB's substrait extension would be a second producer but is
  not installable in this offline sandbox.)

- ``substrait_named_join`` consumes a spec-shaped plan authored here
  (namedTable reads + join + filter + project + sort + fetch) over the
  driver's nation/region fixtures at any scale factor — it exercises the
  NamedTable path query_1.json does not touch.

Output normalization: the plan's decimal sums/avgs are cast to DOUBLE
after EXACT decimal accumulation on both engines (the repo-wide hash
discipline — one well-defined decimal→double conversion per cell).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_FIXTURE = os.path.join(_REPO, "tests", "fixtures", "substrait", "lineitem.parquet")
_DIR_FIXTURE = os.path.join(_REPO, "tests", "fixtures", "substrait", "nation_dir")
_Q1_PLAN = (
    "/root/reference/datafusion/substrait/tests/testdata/"
    "tpch_substrait_plans/query_1.json"
)


def _ensure_fixture() -> str:
    """dbgen SF0.01 lineitem (full 16-column schema — the plan references
    fields by POSITION, so the driver's reduced lineitem cannot serve).
    duckdb's dbgen is deterministic: the fixture is identical on every
    regeneration, which makes the cross-engine hash stable."""
    if not os.path.exists(_FIXTURE):
        import duckdb

        os.makedirs(os.path.dirname(_FIXTURE), exist_ok=True)
        con = duckdb.connect()
        con.sql("CALL dbgen(sf=0.01)")
        con.sql(f"COPY lineitem TO '{_FIXTURE}' (FORMAT parquet)")
        con.close()
    return _FIXTURE


def substrait_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.plans.substrait import consume_plan_file
    from arrow_datafusion_spark.sources.listing import read_listing

    ctx = SessionContext(spark)
    ctx.register_table(
        "FILENAME_PLACEHOLDER_0", read_listing(spark, "parquet", _ensure_fixture())
    )
    out = consume_plan_file(ctx, _Q1_PLAN)
    # decimal → double normalization (sums are exact decimals on both
    # engines; Spark's AVG is already HALF_UP at scale 6)
    return out.select(
        F.col("L_RETURNFLAG").alias("l_returnflag"),
        F.col("L_LINESTATUS").alias("l_linestatus"),
        F.col("SUM_QTY").cast("double").alias("sum_qty"),
        F.col("SUM_BASE_PRICE").cast("double").alias("sum_base_price"),
        F.col("SUM_DISC_PRICE").cast("double").alias("sum_disc_price"),
        F.col("SUM_CHARGE").cast("double").alias("sum_charge"),
        F.col("AVG_QTY").cast("double").alias("avg_qty"),
        F.col("AVG_PRICE").cast("double").alias("avg_price"),
        F.col("AVG_DISC").cast("double").alias("avg_disc"),
        F.col("COUNT_ORDER").alias("count_order"),
    )


# the Isthmus plan filters l_shipdate <= date '1998-12-01' - 120 days and
# aggregates sum/avg/count grouped by returnflag/linestatus
SUBSTRAIT_TPCH_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       CAST(SUM(l_extendedprice) AS DOUBLE) AS sum_base_price,
       CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DOUBLE) AS sum_charge,
       CAST(ROUND(CAST(SUM(l_quantity) AS DECIMAL(38,10)) / COUNT(*), 6) AS DOUBLE) AS avg_qty,
       CAST(ROUND(CAST(SUM(l_extendedprice) AS DECIMAL(38,10)) / COUNT(*), 6) AS DOUBLE) AS avg_price,
       CAST(ROUND(CAST(SUM(l_discount) AS DECIMAL(38,10)) / COUNT(*), 6) AS DOUBLE) AS avg_disc,
       COUNT(*) AS count_order
FROM read_parquet('{_FIXTURE}')
WHERE l_shipdate <= DATE '1998-12-01' - INTERVAL 120 DAY
GROUP BY l_returnflag, l_linestatus
"""


def _sel(field: int) -> dict:
    return {
        "selection": {
            "directReference": {"structField": {"field": field}},
            "rootReference": {},
        }
    }


def _fn(anchor: int, *args: dict, out: dict | None = None) -> dict:
    return {
        "scalarFunction": {
            "functionReference": anchor,
            "outputType": out or {"bool": {"nullability": "NULLABILITY_NULLABLE"}},
            "arguments": [{"value": a} for a in args],
        }
    }


# Spec-shaped plan: SELECT n_name, r_name, n_nationkey FROM nation JOIN
# region ON n_regionkey = r_regionkey WHERE n_nationkey < 10 ORDER BY
# n_nationkey LIMIT 5 — as substrait protojson with compound-signature
# extension names, NamedTable reads, and a join over the concatenated
# field space (nation fields 0-2, region fields 3-4).
_NAMED_JOIN_PLAN = {
    "extensionUris": [{"extensionUriAnchor": 1, "uri": "/functions_comparison.yaml"}],
    "extensions": [
        {"extensionFunction": {"extensionUriReference": 1, "functionAnchor": 0,
                               "name": "equal:any_any"}},
        {"extensionFunction": {"extensionUriReference": 1, "functionAnchor": 1,
                               "name": "lt:any_any"}},
    ],
    "relations": [{
        "root": {
            "names": ["n_name", "r_name", "n_nationkey"],
            "input": {"fetch": {
                "count": "5",
                "input": {"sort": {
                    "sorts": [{"expr": _sel(2),
                               "direction": "SORT_DIRECTION_ASC_NULLS_LAST"}],
                    "input": {"project": {
                        "expressions": [_sel(1), _sel(4), _sel(0)],
                        "input": {"filter": {
                            "condition": _fn(1, _sel(0), {"literal": {"i32": 10}}),
                            "input": {"join": {
                                "type": "JOIN_TYPE_INNER",
                                "expression": _fn(0, _sel(2), _sel(3)),
                                "left": {"read": {
                                    "namedTable": {"names": ["nation"]}}},
                                "right": {"read": {
                                    "namedTable": {"names": ["region"]}}},
                            }},
                        }},
                    }},
                }},
            }},
        },
    }],
}


def substrait_named_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.plans.substrait import consume_plan
    from arrow_datafusion_spark.session import load_tables

    ctx = SessionContext(spark)
    tabs = load_tables(spark, sf_dir, names=("nation", "region"))
    for name, df in tabs.items():
        ctx.register_table(name, df)
    return consume_plan(ctx, _NAMED_JOIN_PLAN)


SUBSTRAIT_NAMED_JOIN_SQL = """
SELECT n_name, r_name, n_nationkey
FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE n_nationkey < 10
ORDER BY n_nationkey
LIMIT 5
"""


# --------------------------------------------------------------------------
# Round 9: producer -> BINARY WIRE -> consumer round trip as a driver
# entry. The plan below travels through BOTH new directions — it is
# produced from the engine's logical-plan interchange tree
# (plans/substrait_producer.py, producer.rs analog), encoded to protobuf
# wire bytes and decoded back (plans/substrait_wire.py, serializer.rs
# analog), then consumed and executed — and the result is oracled against
# DuckDB running the equivalent SQL.

_ROUNDTRIP_PLAN = {
    "op": "sort",
    "by": ["revenue DESC", "c_mktsegment"],
    "input": {
        "op": "projection",
        "exprs": [
            "c_mktsegment",
            "CAST(ROUND(revenue_raw, 2) AS DOUBLE) AS revenue",
            "n AS order_count",
            "big_orders",
        ],
        "input": {
            "op": "aggregate",
            "group_by": ["c_mktsegment"],
            "aggs": [
                "sum(CAST(o_totalprice AS DECIMAL(38,6))) AS revenue_raw",
                "count(1) AS n",
                "sum(CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END) AS big_orders",
            ],
            "input": {
                "op": "join",
                "how": "inner",
                "on": "o_custkey = c_custkey",
                "left": {
                    "op": "filter",
                    "predicate": "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'",
                    "input": {"op": "scan", "table": "orders"},
                },
                "right": {"op": "scan", "table": "customer"},
            },
        },
    },
}


def substrait_producer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.plans.substrait_producer import produce_plan
    from arrow_datafusion_spark.plans.substrait_wire import (
        consume_plan_bytes,
        plan_to_bytes,
    )
    from arrow_datafusion_spark.session import load_tables

    ctx = SessionContext(spark)
    tabs = load_tables(spark, sf_dir, names=("orders", "customer"))
    for name, df in tabs.items():
        ctx.register_table(name, df)
    wire = plan_to_bytes(produce_plan(ctx, _ROUNDTRIP_PLAN))
    return consume_plan_bytes(ctx, wire)


SUBSTRAIT_PRODUCER_ROUNDTRIP_SQL = """
SELECT c_mktsegment,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS order_count,
       CAST(SUM(CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END) AS BIGINT) AS big_orders
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY c_mktsegment
ORDER BY revenue DESC, c_mktsegment
"""


# --------------------------------------------------------------------------
# Round 11: EXISTS + scalar-subquery expressions and INTERSECT/EXCEPT set
# rels join the producer/consumer/wire closure (VERDICT r10 #3). Both
# plans travel produce -> binary wire -> consume and oracle against DuckDB.

_EXISTS_SCALAR_PLAN = {
    "op": "sort",
    "by": ["cnt DESC", "c_mktsegment"],
    "input": {
        "op": "aggregate",
        "group_by": ["c_mktsegment"],
        "aggs": ["count(1) AS cnt"],
        "input": {
            "op": "filter",
            # Expression.Subquery Scalar: customers above the mean balance
            "scalar_subquery": {
                "subquery": {
                    "op": "aggregate",
                    "group_by": [],
                    "aggs": ["avg(CAST(c_acctbal AS DOUBLE)) AS m"],
                    "input": {"op": "scan", "table": "customer"},
                },
                "predicate": "CAST(c_acctbal AS DOUBLE) > __scalar__",
            },
            "input": {
                "op": "filter",
                # Expression.Subquery SetPredicate EXISTS (uncorrelated)
                "exists_subquery": {
                    "subquery": {
                        "op": "filter",
                        "predicate": "n_nationkey > 20",
                        "input": {"op": "scan", "table": "nation"},
                    },
                },
                "input": {"op": "scan", "table": "customer"},
            },
        },
    },
}


def substrait_exists_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.plans.substrait_producer import produce_plan
    from arrow_datafusion_spark.plans.substrait_wire import (
        consume_plan_bytes,
        plan_to_bytes,
    )
    from arrow_datafusion_spark.session import load_tables

    ctx = SessionContext(spark)
    tabs = load_tables(spark, sf_dir, names=("customer", "nation"))
    for name, df in tabs.items():
        ctx.register_table(name, df)
    wire = plan_to_bytes(produce_plan(ctx, _EXISTS_SCALAR_PLAN))
    return consume_plan_bytes(ctx, wire)


SUBSTRAIT_EXISTS_SCALAR_SQL = """
SELECT c_mktsegment, COUNT(*) AS cnt
FROM customer
WHERE EXISTS (SELECT 1 FROM nation WHERE n_nationkey > 20)
  AND CAST(c_acctbal AS DOUBLE) >
      (SELECT AVG(CAST(c_acctbal AS DOUBLE)) FROM customer)
GROUP BY c_mktsegment
ORDER BY cnt DESC, c_mktsegment
"""


_SETOPS_PLAN = {
    "op": "sort",
    "by": ["k"],
    "input": {
        "op": "intersect",
        "inputs": [
            {
                "op": "except",
                "inputs": [
                    {"op": "projection", "exprs": ["n_regionkey AS k"],
                     "input": {"op": "scan", "table": "nation"}},
                    {"op": "projection", "exprs": ["r_regionkey AS k"],
                     "input": {"op": "filter",
                               "predicate": "r_regionkey < 2",
                               "input": {"op": "scan", "table": "region"}}},
                ],
            },
            {"op": "projection", "exprs": ["n_regionkey AS k"],
             "input": {"op": "scan", "table": "nation"}},
        ],
    },
}


def substrait_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.plans.substrait_producer import produce_plan
    from arrow_datafusion_spark.plans.substrait_wire import (
        consume_plan_bytes,
        plan_to_bytes,
    )
    from arrow_datafusion_spark.session import load_tables

    ctx = SessionContext(spark)
    tabs = load_tables(spark, sf_dir, names=("nation", "region"))
    for name, df in tabs.items():
        ctx.register_table(name, df)
    wire = plan_to_bytes(produce_plan(ctx, _SETOPS_PLAN))
    return consume_plan_bytes(ctx, wire)


SUBSTRAIT_SETOPS_SQL = """
SELECT * FROM (
  SELECT n_regionkey AS k FROM nation
  EXCEPT
  SELECT r_regionkey AS k FROM region WHERE r_regionkey < 2
)
INTERSECT
SELECT n_regionkey AS k FROM nation
ORDER BY k
"""


def _ensure_dir_fixture() -> str:
    """A DIRECTORY of parquet files (dbgen nation split in two) for the
    multi-file LocalFiles arm — deterministic on every regeneration."""
    import glob as _glob

    if not _glob.glob(os.path.join(_DIR_FIXTURE, "*.parquet")):
        import duckdb

        os.makedirs(_DIR_FIXTURE, exist_ok=True)
        con = duckdb.connect()
        con.sql("CALL dbgen(sf=0.01)")
        con.sql(
            "COPY (SELECT * FROM nation WHERE n_nationkey < 13 "
            "ORDER BY n_nationkey) TO "
            f"'{os.path.join(_DIR_FIXTURE, 'part0.parquet')}' (FORMAT parquet)"
        )
        con.sql(
            "COPY (SELECT * FROM nation WHERE n_nationkey >= 13 "
            "ORDER BY n_nationkey) TO "
            f"'{os.path.join(_DIR_FIXTURE, 'part1.parquet')}' (FORMAT parquet)"
        )
        con.close()
    return _DIR_FIXTURE


_DIR_SCAN_PLAN = {
    "op": "sort",
    "by": ["n_regionkey ASC"],
    "input": {
        "op": "aggregate",
        "group_by": ["n_regionkey"],
        "aggs": ["count(1) AS n", "sum(n_nationkey) AS key_sum"],
        "input": {
            "op": "filter",
            "predicate": "n_nationkey <> 6",
            "input": {"op": "scan", "parquet": _DIR_FIXTURE},
        },
    },
}


def substrait_dir_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReadRel LocalFiles over a DIRECTORY scan (round 12): the producer
    expands the directory to one FileOrFiles item per parquet file
    (producer.rs ListingTable LocalFiles arm) and the consumer reads the
    uris directly; the whole plan travels the binary wire."""
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.plans.substrait_producer import produce_plan
    from arrow_datafusion_spark.plans.substrait_wire import (
        consume_plan_bytes,
        plan_to_bytes,
    )

    _ensure_dir_fixture()
    ctx = SessionContext(spark)
    wire = plan_to_bytes(produce_plan(ctx, _DIR_SCAN_PLAN))
    return consume_plan_bytes(ctx, wire)


SUBSTRAIT_DIR_SCAN_SQL_TEMPLATE = """
SELECT n_regionkey, COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM read_parquet('{d}/*.parquet')
WHERE n_nationkey <> 6
GROUP BY n_regionkey ORDER BY n_regionkey
"""


QUERIES = {
    "substrait_tpch_q1": substrait_tpch_q1,
    "substrait_named_join": substrait_named_join,
    "substrait_producer_roundtrip": substrait_producer_roundtrip,
    "substrait_exists_scalar": substrait_exists_scalar,
    "substrait_setops": substrait_setops,
    "substrait_dir_scan": substrait_dir_scan,
}
# the oracle strings embed _FIXTURE's path — materialize it at import so a
# fresh checkout can PLAN the oracle SQL (tests/test_oracle_dtypes.py)
# before any queries() entry has run (file-exists check after first gen)
_ensure_fixture()
_ensure_dir_fixture()
ORACLE = {
    "substrait_dir_scan": SUBSTRAIT_DIR_SCAN_SQL_TEMPLATE.format(d=_DIR_FIXTURE),
    "substrait_tpch_q1": SUBSTRAIT_TPCH_Q1_SQL,
    "substrait_named_join": SUBSTRAIT_NAMED_JOIN_SQL,
    "substrait_producer_roundtrip": SUBSTRAIT_PRODUCER_ROUNDTRIP_SQL,
    "substrait_exists_scalar": SUBSTRAIT_EXISTS_SCALAR_SQL,
    "substrait_setops": SUBSTRAIT_SETOPS_SQL,
}
