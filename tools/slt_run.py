"""Run one (or more) .slt files and print the report + first failures.

Usage: python tools/slt_run.py FILE [max_failures_to_show]
Iteration helper for wiring new reference sqllogictest files into
tests/test_sqllogic.py — shows exactly which records diverge.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.session import build_spark
    from arrow_datafusion_spark.slt import run_slt_file

    show_skips = "-s" in sys.argv
    files = [a for a in sys.argv[1:] if not a.isdigit() and a != "-s"]
    nshow = next((int(a) for a in sys.argv[1:] if a.isdigit()), 10)
    spark = build_spark(app="slt-run")
    spark.sparkContext.setLogLevel("ERROR")
    for f in files:
        ctx = SessionContext(spark)
        rep = run_slt_file(ctx, f)
        print(rep.summary(), flush=True)
        for fail in rep.failures[:nshow]:
            print("-" * 72)
            print(fail, flush=True)
        if show_skips:
            for s in rep.skips[:nshow]:
                print("SKIP", s[:400], flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
