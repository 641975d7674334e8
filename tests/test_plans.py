"""Physical-plan shape assertions — the scale contract, checked in CI.

Correctness tests prove the right rows come back at sf0.01; these prove the
PLAN is the one that survives 100 TB: filters reach the parquet scan, scans
prune columns, LSH candidate generation never degrades to an all-pairs
join, and single-shuffle rewrites actually produce a single shuffle.
Mirrors the reference's own physical-optimizer tests (SURVEY.md §4.3).
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

_QUERIES = entrymod.queries()
_SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = _QUERIES[name](spark, _SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan" in ln]


def test_q6_filter_pushdown_and_column_pruning(spark):
    """q6's range predicates must reach the scan, and the scan must read
    only the 4 referenced columns (of lineitem's 11)."""
    (scan,) = _scan_lines(_plan(spark, "tpch_q6"))
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    names = {c.split("#")[0] for c in cols.split(",")}
    assert names == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}
    assert "l_shipdate" in scan.split("DataFilters")[1]


def test_q1_column_pruning(spark):
    (scan,) = _scan_lines(_plan(spark, "tpch_q1"))
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    assert len(cols.split(",")) == 7  # only the referenced lineitem columns


def test_q21_single_lineitem_shuffle(spark):
    """The EXISTS/NOT-EXISTS window rewrite must keep ONE l_orderkey
    exchange — three window specs sharing the clustering, not re-shuffling."""
    plan = _plan(spark, "tpch_q21")
    okey_exchanges = re.findall(r"hashpartitioning\(l_orderkey", plan)
    assert len(okey_exchanges) == 1, plan
    assert len(_scan_lines(plan)) <= 4  # lineitem once + orders/supplier/nation


def test_asof_single_key_shuffle(spark):
    """asof_join = one hash exchange on the key; no range/theta join."""
    plan = _plan(spark, "events_asof")
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sort_merge_join_selected_when_broadcast_disabled(spark):
    """SortMergeJoinExec parity (sort_merge_join.rs:65): with broadcast off,
    Catalyst must plan an un-hinted large⋈large equi-join as a sort-merge
    join — the spill-safe strategy for two large inputs at 100 TB. q3's
    orders⋈lineitem join is deliberately un-hinted (q12's carries a
    measured SHUFFLE_HASH hint, so it is excluded here by design)."""
    # Warm the table cache first: load_table() runs prepare() on a cache
    # miss, which re-applies the 64 MiB default broadcast threshold and
    # would silently undo the -1 set below (order-dependent otherwise).
    _plan(spark, "tpch_q3")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "tpch_q3")
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize(
    "name", ["ann_lsh", "dedup_minhash", "dedup_ngram", "dedup_embedding"]
)
def test_bucketed_candidates_never_all_pairs(spark, name):
    """Every near-dup / ANN candidate stage must be an equi-join on a
    bucket/anchor key — an all-pairs plan (cartesian or broadcast nested
    loop) would be quadratic at scale."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_decontaminate_pushes_doc_filters_below_explode(spark):
    """The eval/train doc_id split must reach the parquet scans (so the
    eval side reads only its row groups at scale) even though the gram
    kernel is an Arrow-batched UDF — the filter is on a scan column, so
    the UDF must not block pushdown."""
    plan = _plan(spark, "pipeline_decontaminate")
    assert "LessThan(doc_id,20)" in plan, plan
    assert "GreaterThanOrEqual(doc_id,20)" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_agg_two_stage_shuffle(spark):
    """salted_sum_count must shuffle on (key, salt) then on key alone —
    the skew-spreading shape — and still match the plain GROUP BY (the
    correctness half is the skew_salted_agg oracle entry)."""
    plan = _plan(spark, "skew_salted_agg")
    assert re.search(r"hashpartitioning\(event_type[^,)]*, _salt", plan), plan
    assert re.search(r"hashpartitioning\(event_type[^,)]*, \d+\)", plan), plan


def test_salted_join_keys_include_salt(spark):
    """salted_join must join on (key, salt) — the composite key is what
    spreads a hot key across reducers. (The dim-side groupBy still shuffles
    on the bare key; that side is small by construction.)"""
    plan = _plan(spark, "skew_salted_join")
    assert "CartesianProduct" not in plan
    join_line = next(l for l in plan.splitlines() if "HashJoin" in l)
    assert "_salt" in join_line, join_line


def test_range_join_is_equi_join(spark):
    """bucketed_range_join must plan as a hash equi-join on the bucket id —
    Spark's native plan for a BETWEEN join is BroadcastNestedLoopJoin,
    which is O(|fact|·|intervals|) and dies at scale."""
    plan = _plan(spark, "range_join_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[_bucket", plan), plan


def test_bucketed_join_has_no_exchange(spark):
    """The bucketed fact-to-fact join must merge-join buckets straight off
    storage: no Exchange on either input (the shuffle was paid at write
    time). Broadcast is disabled for the assertion so the small sf0.001
    orders table can't sidestep the bucketed path."""
    from arrow_datafusion_spark.queries.sources import _bucketed_tables

    li_name, ord_name = _bucketed_tables(spark, _SF)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li, orders = spark.table(li_name), spark.table(ord_name)
        joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert plan.count("SelectedBucketsCount") == 2, plan


@pytest.mark.parametrize("name", ["tpch_q5", "tpch_q10"])
def test_filtered_fact_broadcast_is_byte_gated(spark, name, monkeypatch):
    """q5/q10 hint a broadcast on a FILTERED-FACT build side — legitimate
    only under an absolute size budget. Under the gate the plan must
    broadcast; with the budget forced to zero the same code must pin
    SHUFFLE_HASH (graceful degrade at extreme SF), never a pinned
    broadcast (round-7 verdict, What's wrong #1)."""
    from arrow_datafusion_spark.queries import tpch

    plan_small = _plan(spark, name)
    assert "BroadcastHashJoin" in plan_small, plan_small
    monkeypatch.setattr(tpch, "_BROADCAST_BYTES_CAP", 0)
    plan_big = _plan(spark, name)
    assert "ShuffledHashJoin" in plan_big, plan_big


def test_q15_single_partition_collapse_is_byte_gated(spark, monkeypatch):
    """q15's coalesce(1)-before-window holds one agg row per supplier on a
    single task — a function of SF, so it is byte-gated like the broadcast
    hints (round-8 verdict, What's wrong #1). Under the gate the plan
    collapses via Coalesce+Window; past it the same code must switch to a
    cached partial-max broadcast join — no global Window, no Coalesce(1)
    of the full agg output."""
    from arrow_datafusion_spark.queries import tpch

    plan_small = _plan(spark, "tpch_q15")
    assert "Window" in plan_small, plan_small
    assert "Coalesce 1" in plan_small, plan_small
    small_rows = sorted(
        map(tuple, _QUERIES["tpch_q15"](spark, _SF).collect())
    )
    monkeypatch.setattr(tpch, "_BROADCAST_BYTES_CAP", 0)
    plan_big = _plan(spark, "tpch_q15")
    assert "Window" not in plan_big, plan_big
    assert "Coalesce 1" not in plan_big, plan_big
    assert "BroadcastHashJoin" in plan_big, plan_big
    # the MAX side partial-aggregates before any exchange (map-side max)
    assert re.search(r"HashAggregate.*partial_max\(rev_e4\)", plan_big) or (
        "partial_max" in plan_big
    ), plan_big
    # both sides of the gate return the same rows
    big_rows = sorted(map(tuple, _QUERIES["tpch_q15"](spark, _SF).collect()))
    assert big_rows == small_rows


def test_substrait_consumed_plan_gets_pushdown_and_pruning(spark):
    """The Substrait consumer builds DECLARATIVE DataFrames, so Catalyst
    optimizes a consumed third-party plan like any native query: the
    Isthmus TPC-H q1 artifact's filter (shipdate <= date - interval,
    constant-folded) must reach the parquet scan, and the scan must read
    only the 7 referenced columns of lineitem's 16."""
    from arrow_datafusion_spark.context import SessionContext
    from arrow_datafusion_spark.plans.substrait import consume_plan_file
    from arrow_datafusion_spark.queries.substrait_suite import _Q1_PLAN, _ensure_fixture

    ctx = SessionContext(spark)
    ctx.register_table(
        "FILENAME_PLACEHOLDER_0", spark.read.parquet(_ensure_fixture())
    )
    df = consume_plan_file(ctx, _Q1_PLAN)
    plan = df._jdf.queryExecution().executedPlan().toString()
    (scan,) = [ln for ln in plan.splitlines() if "FileScan" in ln]
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    assert len(cols.split(",")) == 7, scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in scan


def test_minhash_fast_kernel_matches_md5_verified_pairs(spark, sf_dir):
    """kernel="fast" (crc32-affine vectorized banding, the r10 profile's
    CPU-headroom path) must verify the SAME near-duplicate pairs as the
    oracle-parity md5 kernel on the fixture corpus: candidates differ
    only in LSH recall at the threshold margin, and exact-Jaccard
    verification pins the output. At sf0.1 both kernels produced the
    identical 256-pair set (r10 A/B); sf0.01 here for suite budget."""
    from arrow_datafusion_spark.operators.dedup import minhash_near_duplicates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    md5_pairs = {
        tuple(r)
        for r in minhash_near_duplicates(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
        .collect()
    }
    fast_pairs = {
        tuple(r)
        for r in minhash_near_duplicates(docs, "doc_id", "text", kernel="fast")
        .select("doc_a", "doc_b")
        .collect()
    }
    assert md5_pairs, "fixture must contain near-duplicates"
    assert fast_pairs == md5_pairs


def test_minhash_prune_keeps_verified_pairs_byte_identical(spark, sf_dir):
    """Round-11 verify-stage prune (VERDICT r10 #6): the distinct-gram-
    count Jaccard upper bound (min/max < t ⇒ unverifiable) must not
    change the VERIFIED pair set — it may only shrink the candidate set
    the exact-Jaccard stage has to pay for. Compares the pruned default
    path against a no-prune candidate run through the same verifier."""
    from arrow_datafusion_spark.operators.dedup import (
        _verify_pairs_jaccard,
        minhash_candidate_pairs,
        minhash_near_duplicates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pruned = {
        tuple(r)
        for r in minhash_near_duplicates(docs, "doc_id", "text", threshold=0.4)
        .select("doc_a", "doc_b")
        .collect()
    }
    cand_all = minhash_candidate_pairs(docs, "doc_id", "text")  # no prune
    cand_pruned = minhash_candidate_pairs(
        docs, "doc_id", "text", prune_threshold=0.4
    )
    n_all, n_pruned = cand_all.count(), cand_pruned.count()
    assert n_pruned <= n_all  # the prune never ADDS candidates

    def gram_fn(t):
        return frozenset(t[i : i + 5] for i in range(max(len(t) - 5 + 1, 1)))

    unpruned = {
        tuple(r)
        for r in _verify_pairs_jaccard(
            cand_all.localCheckpoint(eager=True),
            docs,
            "doc_id",
            "text",
            gram_fn,
            0.4,
            cache_key=("char", 5),
        )
        .select("doc_a", "doc_b")
        .collect()
    }
    assert pruned == unpruned and pruned


def test_bucket_norm_kernel_matches_column_form(spark, sf_dir):
    """Round-13 kernel swap: the fused Arrow bucket+norm kernel
    (_bucket_norm_udf) must be BIT-identical to the Column-expression
    construction (hyperplane_bucket + sqrt of the sequential dot fold) —
    same LCG planes, same per-dimension accumulation order, same IEEE
    sqrt — on every embedding vector."""
    from pyspark.sql import functions as F

    from arrow_datafusion_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", SIM._as_double(F.col("embedding")).alias("v")
    )
    bn = SIM._bucket_norm_udf(8, 64)
    kernel = {
        r.vec_id: (r.b, r.n)
        for r in emb.select(
            "vec_id",
            bn(F.col("v")).getField("bucket").alias("b"),
            bn(F.col("v")).getField("nrm").alias("n"),
        ).collect()
    }
    column = {
        r.vec_id: (r.b, r.n)
        for r in emb.select(
            "vec_id",
            SIM.hyperplane_bucket(F.col("v"), 8, 64).alias("b"),
            F.sqrt(SIM.dot(F.col("v"), F.col("v"))).alias("n"),
        ).collect()
    }
    assert kernel == column and len(kernel) > 0


def test_ngram_prune_keeps_verified_pairs_byte_identical(spark, sf_dir):
    """Round-13: the candidate-stage Jaccard upper-bound prune added to
    ngram_jaccard_pairs must not change the verified pair set — the bound
    J ≤ min(ng)/max(ng) is exact, so only never-verifiable pairs drop.
    Compare against an unpruned candidate set pushed through the same
    verify stage."""
    from pyspark.sql import functions as F

    from arrow_datafusion_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pruned = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, anchors=2, threshold=0.3
        ).collect()
    }

    # unpruned reference: the SAME JVM anchor construction production uses
    # (word_ngrams + md5 sort/slice), just without the ng filter — the
    # Arrow kernel reverted out of production in r13 must not be the
    # reference here (ADVICE r13)
    anchored = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(
            F.slice(
                F.array_sort(
                    F.transform(
                        D.word_ngrams(F.split(F.col("text"), " "), 3), F.md5
                    )
                ),
                1,
                2,
            )
        ).alias("anchor"),
    )
    cand = (
        anchored.alias("l")
        .join(
            anchored.alias("r"),
            (F.col("l.anchor") == F.col("r.anchor"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )

    def gram_fn(t):
        toks = t.split(" ")
        return frozenset(
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        )

    unpruned = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D._verify_pairs_jaccard(
            cand, docs, "doc_id", "text", gram_fn, 0.3, cache_key=("word", 3)
        ).collect()
    }
    assert pruned == unpruned and len(pruned) > 0


def test_ivf_scorer_memo_keeps_determinism(spark):
    """ann_ivf scores every corpus vector in ONE ArrowEvalPython node: the
    corpus-side scorer is nondeterministic, so the optimizer cannot
    duplicate it below the probe join's inferred isnotnull(cluster). That
    scorer is memoized as its own object, because asNondeterministic()
    mutates the UDF it is called on: the cached deterministic scorer (the
    probe side's) must stay deterministic."""
    from arrow_datafusion_spark.operators import similarity as SIM

    df = _QUERIES["ann_ivf"](spark, _SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"ArrowEvalPython \[_score\(nv", plan)) == 1, plan
    df.collect()
    memo = SIM._CENTROID_UDFS
    assert {key[-1] for key in memo} == {True, False}
    for key, udf in memo.items():
        assert udf._unwrapped.deterministic is key[-1]
        assert udf.deterministic is key[-1]


def _compile_count(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _empty_codegen_cache(spark) -> None:
    """Invalidate Spark's generated-class cache (the private ``cache`` of
    the ``CodeGenerator`` object, reached by reflection)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    cache = field.get(cls.getField("MODULE$").get(None))
    cache.invalidateAll()
    assert cache.size() == 0


def test_warm_tpch_plans_compile_nothing(spark):
    """build_spark sizes Spark's generated-class cache to hold the 22
    TPC-H plans' classes, so a second pass recompiles none of them (at
    Spark's default of 100 entries every class is evicted before its plan
    runs again). AQE numbers codegen stages in the order query stages
    finish, so a query whose final plan differs between the passes may
    need new classes; only repeated plans are held to zero. The cache is
    emptied first, so the classes earlier tests compiled into the shared
    session cannot push these out."""
    from arrow_datafusion_spark.queries import tpch

    _empty_codegen_cache(spark)

    def run_pass() -> dict[str, tuple[str, int]]:
        out = {}
        for name, build in tpch.QUERIES.items():
            before = _compile_count(spark)
            df = build(spark, _SF)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan = re.sub(r"plan_id=\d+", "plan_id", re.sub(r"#\d+L?", "#", plan))
            out[name] = (plan, _compile_count(spark) - before)
        return out

    first, second = run_pass(), run_pass()
    repeated = [n for n in first if first[n][0] == second[n][0]]
    assert len(repeated) >= 15, sorted(set(first) - set(repeated))
    recompiled = {n: second[n][1] for n in repeated if second[n][1]}
    assert not recompiled, recompiled
