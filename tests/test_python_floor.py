"""The fixed per-statement and per-task costs around the Python worker.

- Statement results built in Python are local Arrow relations: collecting
  them runs no Spark job.
- ``arrow_datafusion_spark.worker`` swaps the worker's zip importers for
  ones that re-read an archive only after it changed, so PySpark's
  per-task ``importlib.invalidate_caches()`` stops re-reading the
  directories of pyspark.zip and the spark-core jar.
- The dedup verifier runs its Jaccard UDF once per candidate pair.
"""

from __future__ import annotations

import ast
import importlib
import json
import os
import sys
import zipfile
import zipimport

from arrow_datafusion_spark import worker


def _jobs_of_collect(spark, df) -> tuple[list, list[int]]:
    sc = spark.sparkContext
    group = f"collect-{id(df)}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, list(sc.statusTracker().getJobIdsForGroup(group))


def test_statement_results_collect_without_a_job(spark, sf_dir, tmp_path):
    """COPY, CREATE EXTERNAL TABLE, INSERT and CREATE TABLE return their
    result rows as a local relation; the counts come from the write."""
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.session import load_tables

    li = load_tables(spark, sf_dir, names=("lineitem",))["lineitem"]
    ctx = SessionContext(spark)
    out = str(tmp_path / "li")
    cols = "l_orderkey, l_quantity, l_returnflag"
    want_copy = li.where("l_quantity < 10").count()
    want_insert = li.where("l_quantity > 45").count()
    cases = [
        (
            f"COPY (SELECT {cols} FROM lineitem WHERE l_quantity < 10) TO '{out}' "
            "STORED AS PARQUET PARTITIONED BY (l_returnflag)",
            "struct<count:bigint>",
            [(want_copy,)],
        ),
        (
            "CREATE EXTERNAL TABLE floor_li (l_orderkey BIGINT, l_quantity DOUBLE, "
            "l_returnflag VARCHAR) STORED AS PARQUET PARTITIONED BY (l_returnflag) "
            f"LOCATION '{out}'",
            "struct<result:string>",
            [],
        ),
        (
            f"INSERT INTO floor_li SELECT {cols} FROM lineitem WHERE l_quantity > 45",
            "struct<count:bigint>",
            [(want_insert,)],
        ),
        ("CREATE TABLE floor_ddl (a INT, b VARCHAR)", "struct<result:string>", []),
    ]
    try:
        for text, schema, want in cases:
            df = ctx.sql(text)
            rows, jobs = _jobs_of_collect(spark, df)
            assert df.schema.simpleString() == schema, text
            assert [tuple(r) for r in rows] == want, text
            assert jobs == [], text
        assert ctx.table("floor_li").count() == want_copy + want_insert
    finally:
        spark.sql("DROP TABLE IF EXISTS floor_ddl")
        ctx.deregister_table("floor_li")


def test_result_helper_is_the_only_createDataFrame():
    """Every row SessionContext builds in Python goes through _result."""
    from arrow_datafusion_spark import context

    tree = ast.parse(open(context.__file__).read())
    owners = []

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, ast.FunctionDef) else owner
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
                and ast.unparse(child.func.value) == "self.spark"
            ):
                owners.append(owner)
            visit(child, name)

    visit(tree, None)
    assert owners == ["_result"], owners


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_shim_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"floor_zip_a": "X = 1\n"})
    importer = worker.StampedZipImporter(archive)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []
    _write_zip(archive, {"floor_zip_a": "X = 1\n", "floor_zip_b": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importer.invalidate_caches()
    assert reads == [archive]
    assert importer.find_spec("floor_zip_b") is not None
    importer.invalidate_caches()
    assert reads == [archive]


def test_zip_shim_still_imports_a_rewritten_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"floor_zip_c": "X = 1\n"})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    for name in ("floor_zip_c", "floor_zip_d"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("floor_zip_c")
    worker.install_zip_shim()
    assert zipimport.zipimporter not in sys.path_hooks
    assert type(sys.path_importer_cache[archive]) is worker.StampedZipImporter
    _write_zip(archive, {"floor_zip_c": "X = 1\n", "floor_zip_d": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importlib.import_module("floor_zip_d").Y == 2


def test_workers_carry_the_zip_shim_after_an_engine_udf(spark, sf_dir):
    """An engine UDF's first task installs the shim in its worker: the
    check is chained onto the minhash kernel, so it runs in the same
    Python worker process, and there ``invalidate_caches()`` reads no zip
    directory."""
    from pyspark.sql import functions as F

    from arrow_datafusion_spark.operators.dedup import _minhash_band_udf

    def check(sig):
        import importlib
        import json
        import sys
        import zipimport

        import pandas as pd

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        state = {
            "types": sorted(
                {
                    type(f).__name__
                    for f in list(sys.path_importer_cache.values())
                    if isinstance(f, zipimport.zipimporter)
                }
            ),
            "hooked": zipimport.zipimporter not in sys.path_hooks,
            "reads": len(reads),
        }
        return pd.Series([json.dumps(state)] * len(sig))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    probe = F.pandas_udf(check, "string")
    band = _minhash_band_udf(5, 16, 4)
    states = {
        r.s for r in docs.select(probe(band(F.col("text"))).alias("s")).distinct().collect()
    }
    assert states, "no task ran"
    for s in states:
        state = json.loads(s)
        assert state == {"types": ["StampedZipImporter"], "hooked": True, "reads": 0}


def _jaccard_rows(plan) -> list[int]:
    """pythonNumRowsReceived of every Jaccard ArrowEvalPython node in an
    executed adaptive plan, query stages included."""
    out = []
    name = plan.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return _jaccard_rows(plan.finalPhysicalPlan())
    if name == "ArrowEvalPython" and "jac_batch" in plan.toString():
        out.append(plan.metrics().apply("pythonNumRowsReceived").value())
    if "QueryStage" in name:
        return out + _jaccard_rows(plan.plan())
    it = plan.children().iterator()
    while it.hasNext():
        out += _jaccard_rows(it.next())
    return out


def test_jaccard_udf_runs_once_per_candidate_pair(spark, sf_dir):
    """The global sort after the verifier samples the verified pairs from
    an exchange, so the Jaccard UDF is not run a second time for the
    sort's range bounds, and the threshold filter is not pushed below the
    projection, where it would run the UDF again for each verified pair."""
    from arrow_datafusion_spark.operators.dedup import minhash_candidate_pairs
    from arrow_datafusion_spark.queries import llm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    candidates = minhash_candidate_pairs(docs, "doc_id", "text", prune_threshold=0.3).count()
    df = llm.dedup_minhash(spark, sf_dir)
    assert df.collect()
    assert _jaccard_rows(df._jdf.queryExecution().executedPlan()) == [candidates]
