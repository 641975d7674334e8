"""Regenerate the rewrite-layer golden corpus,
``tests/golden/frontend_rewrite.jsonl`` (see ``tests/frontend_corpus.py``).

Usage: python tools/bless_frontend_rewrite.py

Pure records need no Spark; the typed records start a local session.
Review the diff of the file before committing it: every changed record
is a change in the text the front end hands to Spark. The tool also names
the passes that fire on no record (change no record's text or literal
table), so a re-bless shows a pass that stopped being reached.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.session import build_spark
    from tests import frontend_corpus as fc

    records = []
    for rec in fc.pure_inputs():
        records.append({**rec, **fc.rewrite_pure(rec["sql"], rec["pfad"])})
    spark = build_spark(app="bless-frontend-rewrite", cpus=2)
    try:
        ctx = SessionContext(spark)
        fc.typed_catalog(ctx)
        for sql in fc.TYPED:
            records.append({"src": "typed", "sql": sql, "typed": True,
                            **fc.rewrite_typed(ctx, sql)})
        unfired = fc.unfired(ctx, records)
    finally:
        spark.stop()
    os.makedirs(os.path.dirname(fc.GOLDEN), exist_ok=True)
    with open(fc.GOLDEN, "w", encoding="utf-8") as f:
        for rec in records:
            f.write(json.dumps(rec, ensure_ascii=False) + "\n")
    print(f"{len(records)} records -> {os.path.relpath(fc.GOLDEN)}")
    print("passes that fire on no record:", ", ".join(unfired) or "none")


if __name__ == "__main__":
    main()
