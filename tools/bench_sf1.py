"""SF1 TPC-H bench — the direct BASELINE.md comparison (VERDICT r6 #5).

BASELINE.md's reference numbers ARE SF1 (dfbench, --iterations 3, warm).
The driver fixtures stop at sf0.1, where ~0.2s/query local-mode JVM floors
dominate and the wall-clock ratio measures the floor, not the engine. This
script materializes SF1 data and runs the same measurement protocol as
bench.py section_tpch (warm plans, min-of-3, end-to-end collect), so the
per-query walls compare directly against the reference's published rows —
floors amortize to noise at 6M-row lineitem.

Data: duckdb's bundled tpch extension (``CALL dbgen(sf=1)``) projected
onto the driver-fixture schema (TESTDATA.md tables carry a REDUCED column
set with timestamp dates — see _PROJECT below). dbgen SF1 is the same
logical data the reference benchmarked, which makes this MORE comparable
than scaling the synthetic fixtures. Layout: 16/8-way parquet like
bench.py's ingest (same file layout discipline).

Usage: python tools/bench_sf1.py [--regen]   # writes .bench_layout/sf1
Prints one JSON line {"metric": "tpch_total_sf1", ...} and a per-query
table against BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402
from arrow_datafusion_spark.queries import tpch  # noqa: E402

def _sf_dir(sf: int) -> str:
    return os.path.join(_REPO, ".bench_layout", f"sf{sf}")

# driver-fixture schema projection over dbgen's full TPC-H columns
# (TESTDATA.md: reduced column set, DATE -> TIMESTAMP, int32 keys on dims)
_PROJECT = {
    "lineitem": """
        SELECT l_orderkey, l_partkey, l_suppkey,
               CAST(l_linenumber AS INTEGER) AS l_linenumber,
               CAST(l_quantity AS DOUBLE) AS l_quantity,
               CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
               CAST(l_discount AS DOUBLE) AS l_discount,
               CAST(l_tax AS DOUBLE) AS l_tax,
               l_returnflag, l_linestatus,
               CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
        FROM lineitem""",
    "orders": """
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
               o_orderpriority
        FROM orders""",
    "customer": """
        SELECT c_custkey, c_name,
               CAST(c_nationkey AS INTEGER) AS c_nationkey,
               CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
        FROM customer""",
    "supplier": """
        SELECT s_suppkey, s_name,
               CAST(s_nationkey AS INTEGER) AS s_nationkey,
               CAST(s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier""",
    "part": """
        SELECT p_partkey, p_name, p_brand, p_type,
               CAST(p_size AS INTEGER) AS p_size,
               CAST(p_retailprice AS DOUBLE) AS p_retailprice
        FROM part""",
    "nation": """
        SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name,
               CAST(n_regionkey AS INTEGER) AS n_regionkey
        FROM nation""",
    "region": """
        SELECT CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name
        FROM region""",
}

_BASELINE_MS = {  # BASELINE.md SF1 parquet rows (benchmarks/README.md:106-127)
    "q1": 2520.52, "q2": 222.37, "q3": 248.41, "q4": 144.01, "q5": 339.54,
    "q6": 147.59, "q7": 605.72, "q8": 326.35, "q9": 579.02, "q10": 403.38,
    "q11": 201.94, "q12": 235.94, "q13": 738.40, "q14": 198.73, "q15": 183.32,
    "q16": 168.57, "q17": 2032.57, "q18": 1912.80, "q19": 391.64,
    "q20": 648.22, "q21": 866.25, "q22": 115.94,
}


def generate(regen: bool = False, sf: int = 1) -> str:
    """dbgen at the given SF, projected onto the driver-fixture schema.
    sf=10 (~60M-row lineitem) amortizes local-mode stage floors to <5%
    of wall — the per-query SF1→SF10 scaling column BENCH_SF1.md uses to
    prove the closed-at-floor retirements (VERDICT r9 #4)."""
    out_dir = _sf_dir(sf)
    marker = os.path.join(out_dir, ".done")
    if os.path.exists(marker) and not regen:
        return out_dir
    import duckdb

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"LOAD tpch; CALL dbgen(sf={sf})")
    for name, q in _PROJECT.items():
        con.sql(
            f"COPY ({q}) TO '{os.path.join(out_dir, name + '.parquet')}' "
            "(FORMAT parquet, ROW_GROUP_SIZE 262144)"
        )
    con.close()
    with open(marker, "w") as f:
        f.write("ok\n")
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--regen", action="store_true")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--sf", type=int, default=1, choices=(1, 10))
    ap.add_argument(
        "--floors",
        action="store_true",
        help="also measure each query's sf0.001 floor back-to-back and "
        "report compute-over-floor — the BENCH_SF1.md closed-at-floor "
        "accounting",
    )
    args = ap.parse_args()

    raw = generate(args.regen, args.sf)
    spark = bench._build_session()
    # re-encode into a parallel multi-file layout (same discipline as
    # bench.py's ingest, files-per-table scaled 2x for the 10x data —
    # ~190k lineitem rows/file at SF1, file count x4 again at SF10 so
    # per-file row counts stay in the same band). NOTE: must be a
    # DIFFERENT dir from raw (bench._layout_dir(raw) maps onto itself).
    lay = os.path.join(_REPO, ".bench_layout", f"sf{args.sf}_layout")
    parts = {"lineitem": 32, "orders": 16, "customer": 4, "part": 4,
             "supplier": 2, "nation": 1, "region": 1}
    if args.sf == 10:
        parts = {k: min(v * 4, 128) if v > 1 else v for k, v in parts.items()}
    if not os.path.isdir(lay) or args.regen:
        shutil.rmtree(lay, ignore_errors=True)
        from concurrent.futures import ThreadPoolExecutor

        def _write(name: str) -> None:
            df = spark.read.parquet(f"{raw}/{name}.parquet")
            df.repartition(parts.get(name, 4)).write.mode(
                "overwrite"
            ).parquet(f"{lay}/{name}.parquet")

        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(_write, _PROJECT))

    warm = bench._layout_dir(bench._WARM_SRC)
    for fn in tpch.QUERIES.values():  # codegen/class-load warmup
        fn(spark, warm).collect()
    for name in _PROJECT:  # footer/catalog warm on the SF1 layout
        spark.read.parquet(f"{lay}/{name}.parquet").count()
    # SF1 tuning: 6M-row lineitem wants more reduce parallelism than the
    # sf0.1 bench's 8 partitions, and AQE's per-stage re-plan cost is
    # amortized at this scale (the 100 TB posture) — keep the ENGINE
    # defaults (AQE on, 32 partitions) instead of bench.py's toy tuning.
    from arrow_datafusion_spark.session import prepare

    prepare(spark)
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    timings: dict[str, float] = {}
    floors: dict[str, float] = {}
    for name in sorted(tpch.QUERIES, key=lambda n: int(n.split("q")[-1])):
        fn = tpch.QUERIES[name]
        spark._jvm.System.gc()
        q = name.removeprefix("tpch_")
        timings[q] = bench._min_of(lambda: fn(spark, lay).collect(), args.n)
        if args.floors:  # same-query sf0.001 wall, back-to-back
            floors[q] = bench._min_of(
                lambda: fn(spark, warm).collect(), args.n
            )

    total = round(sum(timings.values()), 4)
    # baseline rows are SF1; at SF10 the comparable row is 10x (dfbench
    # compute is ~linear in SF for these queries) — the column is labeled
    # so the scaling claim, not the ratio, is the deliverable there
    base_scale = float(args.sf)
    base_total = sum(_BASELINE_MS.values()) / 1000.0 * base_scale
    hdr = f"{'query':6s} {'sf1_wall_s':>10s} {'baseline_s':>10s} {'ratio':>6s}"
    if args.floors:
        hdr += f" {'floor_s':>8s} {'compute_s':>9s} {'cmp_ratio':>9s}"
    print(hdr)
    for q, t in timings.items():
        b = _BASELINE_MS[q] / 1000.0 * base_scale
        line = f"{q:6s} {t:10.3f} {b:10.3f} {t / b:6.2f}"
        if args.floors:
            comp = max(0.0, t - floors[q])
            line += f" {floors[q]:8.3f} {comp:9.3f} {comp / b:9.2f}"
        print(line)
    print(f"{'total':6s} {total:10.3f} {base_total:10.3f} {total / base_total:6.2f}")
    out = {
        "metric": f"tpch_total_sf{args.sf}",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": args.sf,
        "baseline_total_sec": round(base_total, 3),
        "ratio_vs_baseline": round(total / base_total, 3),
    }
    if args.floors:
        out["floors"] = {q: round(f, 4) for q, f in floors.items()}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
