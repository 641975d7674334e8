"""Faithful t-digest quantile sketch for approx_percentile_cont /
approx_median / approx_percentile_cont_with_weight.

The reference implements these three aggregates over a merging t-digest
(Dunning & Ertl, https://arxiv.org/abs/1902.04023):

- sketch core: physical-expr-common/src/aggregate/tdigest.rs
  (DEFAULT_MAX_SIZE = 100 at :37, k_to_q at :213, the single-pass
  compression walk in merge_sorted_f64 at :237, the block-mergesort +
  compression of merge_digests at :368, estimate_quantile at :466)
- accumulator: functions-aggregate/src/approx_percentile_cont.rs
  (per-batch sort+merge at :392, the `q as <int>` truncating result
  conversion at :400)
- weighted: approx_percentile_cont_with_weight.rs (:173 — every
  (value, weight) pair becomes a SINGLETON digest with count = 1, merged
  via merge_digests; the compression budget therefore scales with the
  ROW count while the walk weighs centroid weights — reproduced
  verbatim, quirk included).

This module is a hand-written Python implementation of those semantics
(no code is copied; the arithmetic ORDER of the reference's f64
operations is preserved so results are bit-identical for a
single-merge digest — Python floats are IEEE 754 doubles).

Determinism note: the reference's accumulator folds each RecordBatch
into the digest separately, so its output depends on batching for
inputs larger than one batch (8192 rows). This implementation sorts
the complete value set and performs ONE merge — identical to the
reference for any group that fits a single batch (every sqllogictest
fixture; the corpus' larger probes only assert ±5% bounds, which both
batchings satisfy).

Scale note: exposed as ``collect_list`` + a scalar pandas UDF, the
group's values are materialized per group — the same per-group
memory contract as Spark's own exact ``percentile``. The digest itself
is O(max_size). Pipelines that need a streaming sketch at huge group
cardinality keep Spark's native ``percentile_approx`` (DataFrame
registry, functions/aggregate.py).
"""

from __future__ import annotations

import math


def _k_to_q(k: float, d: float) -> float:
    """Inverse scale function of the merging digest (tdigest.rs:213)."""
    k_div_d = k / d
    if k_div_d >= 0.5:
        base = 1.0 - k_div_d
        return 1.0 - 2.0 * base * base
    return 2.0 * k_div_d * k_div_d


class TDigest:
    """Merging t-digest over (mean, weight) centroids sorted by mean."""

    __slots__ = ("max_size", "centroids", "count", "min", "max")

    def __init__(self, max_size: int = 100):
        self.max_size = max_size
        self.centroids: list[list[float]] = []  # [mean, weight], sorted
        self.count = 0.0
        self.min = math.nan
        self.max = math.nan

    # -- construction ---------------------------------------------------

    @classmethod
    def of_sorted_values(cls, values, max_size: int = 100) -> "TDigest":
        """Digest of an ascending-sorted value sequence — the reference's
        merge_sorted_f64 applied to an empty digest (one update_batch)."""
        d = cls(max_size)
        n = len(values)
        if n == 0:
            return d
        d.count = float(n)
        d.min = float(values[0])
        d.max = float(values[n - 1])
        d._compress([[float(v), 1.0] for v in values], d.count)
        return d

    @classmethod
    def of_weighted_rows(cls, pairs, max_size: int = 100) -> "TDigest":
        """Digest of (value, weight) rows — with_weight's singleton-digest
        merge: centroids stable-sorted by mean (merge_digests' external
        block mergesort keeps input order on ties), compression budget
        driven by the ROW count (each singleton digest has count 1)."""
        d = cls(max_size)
        n = len(pairs)
        if n == 0:
            return d
        cents = sorted(
            ([float(v), float(w)] for v, w in pairs),
            key=lambda c: c[0],  # Python sort is stable — ties keep order
        )
        d.count = float(n)
        d.min = min(c[0] for c in cents)
        d.max = max(c[0] for c in cents)
        d._compress(cents, d.count)
        return d

    # -- the single-pass compression walk (tdigest.rs:237 / :425) -------

    def _compress(self, cents: list[list[float]], count: float) -> None:
        dsz = float(self.max_size)
        compressed: list[list[float]] = []
        k_limit = 1.0
        q_limit_times_count = _k_to_q(k_limit, dsz) * count
        k_limit += 1.0
        it = iter(cents)
        curr = next(it)
        weight_so_far = curr[1]
        sums_to_merge = 0.0
        weights_to_merge = 0.0
        for nxt in it:
            next_sum = nxt[0] * nxt[1]
            weight_so_far += nxt[1]
            if weight_so_far <= q_limit_times_count:
                sums_to_merge += next_sum
                weights_to_merge += nxt[1]
            else:
                # Centroid::add (tdigest.rs:121): fold the pending run in
                new_sum = sums_to_merge + curr[1] * curr[0]
                new_weight = curr[1] + weights_to_merge
                curr = [new_sum / new_weight, new_weight]
                sums_to_merge = 0.0
                weights_to_merge = 0.0
                compressed.append(curr)
                q_limit_times_count = _k_to_q(k_limit, dsz) * count
                k_limit += 1.0
                curr = nxt
        new_sum = sums_to_merge + curr[1] * curr[0]
        new_weight = curr[1] + weights_to_merge
        compressed.append([new_sum / new_weight, new_weight])
        compressed.sort(key=lambda c: c[0])
        self.centroids = compressed

    # -- quantile estimation (tdigest.rs:466) ---------------------------

    def estimate_quantile(self, q: float) -> float:
        if not self.centroids:
            return 0.0
        count_ = self.count
        rank = q * count_
        cents = self.centroids
        if q > 0.5:
            if q >= 1.0:
                return self.max
            pos = 0
            t = count_
            for k in range(len(cents) - 1, -1, -1):
                t -= cents[k][1]
                if rank >= t:
                    pos = k
                    break
        else:
            if q <= 0.0:
                return self.min
            pos = len(cents) - 1
            t = 0.0
            for k in range(len(cents)):
                if rank < t + cents[k][1]:
                    pos = k
                    break
                t += cents[k][1]
        delta = 0.0
        lo, hi = self.min, self.max
        if len(cents) > 1:
            if pos == 0:
                delta = cents[1][0] - cents[0][0]
                hi = cents[1][0]
            elif pos == len(cents) - 1:
                delta = cents[pos][0] - cents[pos - 1][0]
                lo = cents[pos - 1][0]
            else:
                delta = (cents[pos + 1][0] - cents[pos - 1][0]) / 2.0
                lo = cents[pos - 1][0]
                hi = cents[pos + 1][0]
        value = cents[pos][0] + ((rank - t) / cents[pos][1] - 0.5) * delta
        if math.isnan(lo) and math.isnan(hi):
            return value
        return min(max(value, lo), hi)


# -- SQL surface: collect_list + scalar pandas UDF ----------------------


def register_udafs(spark) -> None:
    """Register the SQL-callable t-digest evaluators (idempotent per
    session).

    They are SCALAR pandas UDFs applied to a ``collect_list`` of the
    group's values, NOT grouped-agg pandas UDFs, for two reasons probed
    on Spark 4.1: a grouped-agg pandas UDF (a) cannot be mixed with
    builtin aggregate functions in the same SELECT
    (INVALID_PANDAS_UDF_PLACEMENT) and (b) emits ZERO rows for an empty
    global aggregation where SQL semantics require one NULL row.
    ``collect_list`` is a builtin aggregate, so both behaviors are
    correct. NULL handling: ``collect_list`` DROPS null inputs; the
    reference's convert_to_float iterates ``array.values()``, which
    ignores the null bitmap — null slots contribute their raw buffer
    values (typically 0.0) to its digest, so null-containing groups can
    legitimately diverge (dropping is arguably the more correct read;
    the slt goldens have no null-bearing t-digest fixtures).
    The value set is sorted inside the UDF, making the
    result order-insensitive (deterministic under any shuffle order)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit SCALAR eval type: this module uses postponed annotations,
    # which the type-hint-based inference cannot resolve
    @pandas_udf("double", PandasUDFType.SCALAR)
    def tdigest_from_list(arrs, q, max_size):
        import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
        out = []
        for arr, qq, mm in zip(arrs, q, max_size):
            if arr is None or len(arr) == 0:
                out.append(None)
                continue
            vals = np.sort(np.asarray(arr, dtype="float64"))
            d = TDigest.of_sorted_values(vals, int(mm))
            out.append(d.estimate_quantile(float(qq)))
        return pd.Series(out, dtype="float64")

    @pandas_udf("double", PandasUDFType.SCALAR)
    def tdigest_from_list_w(arrs, q):
        import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
        # arr: list of {v, w} structs (nulls pre-filtered by collect_list)
        out = []
        for arr, qq in zip(arrs, q):
            if arr is None or len(arr) == 0:
                out.append(None)
                continue
            pairs = [(float(p["v"]), float(p["w"])) for p in arr]
            d = TDigest.of_weighted_rows(pairs)
            out.append(d.estimate_quantile(float(qq)))
        return pd.Series(out, dtype="float64")

    spark.udf.register("tdigest_from_list", tdigest_from_list)
    spark.udf.register("tdigest_from_list_w", tdigest_from_list_w)
