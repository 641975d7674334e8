"""Similarity search over embedding columns (array<float>).

Two tiers, per the north star:
- ``cosine_topk``: brute-force exact top-k — the baseline. Queries are
  broadcast (small side); the corpus is scanned once per batch of queries;
  ranking is a per-query window top-k (TakeOrdered shape). Cost O(|Q|·|N|) —
  correct at any scale where |Q| is small, and embarrassingly parallel.
- ``lsh_cosine_topk``: random-hyperplane LSH — the 100 TB path. Each vector
  gets an 8-bit bucket from the signs of 8 hyperplane projections; queries
  probe only their own bucket (an equi-join on the bucket id), cutting the
  candidate set ~256× before exact scoring. Hyperplanes come from an integer
  LCG, so bucketing is bit-exact reproducible on any engine (oracle-able) —
  no RNG state shipped to executors.

Arithmetic is built-in Column expressions (zip_with + aggregate folds)
JVM-side, except the IVF scoring kernels, which are Arrow-batched numpy
replays of the SAME sequential fold (bit-identical by construction — see
_centroid_scores_udf) — the interpreted-HOF fold was the measured
bottleneck of the IVF entry.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "dot_arrow",
    "cosine",
    "cosine_topk",
    "lcg_plane",
    "hyperplane_bucket",
    "lsh_cosine_topk",
    "embedding_near_duplicates",
]


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic addition order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _norm(v: Column) -> Column:
    return F.sqrt(dot(v, v))


def _cosine_n(a: Column, b: Column, an: Column, bn: Column) -> Column:
    """cosine with precomputed norms — numerically IDENTICAL to cosine()
    (same ``dot / (sqrt·sqrt)`` op order), but each vector's self-dot is
    evaluated once per VECTOR instead of once per PAIR. The array-lambda
    folds run interpreted (no whole-stage codegen), so at k candidates per
    query this cuts the fold work 3× — measured 2-3× end-to-end on the ANN
    entries."""
    return dot(a, b) / (an * bn)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows per ``queries`` row.

    Plan shape: broadcast(queries) ⨯ corpus → window row_number ≤ k. The
    similarity is rounded to 6dp BEFORE ranking (with the id as tiebreaker)
    so ranking is stable across engines and partitionings.
    """
    # NOTE (r13 A/B): swapping these folds for the Arrow dot kernel was
    # MEASURED SLOWER here (0.67 s → 0.87 s at sf0.1) — the broadcast
    # cross join evaluates three kernel call sites per pair row, and the
    # Python-boundary round trips exceed the interpreted-HOF saving at
    # this |Q|·|N| pair shape. The bucketed operators (lsh/embedding)
    # keep the kernel, where it measured 1.4-1.7×; this brute-force
    # baseline stays on the JVM fold.
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"), _as_double(F.col(vec_col)).alias("qv")
        ).withColumn("qn", _norm(F.col("qv")))
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), _as_double(F.col(vec_col)).alias("nv")
    ).withColumn("nn", _norm(F.col("nv")))
    sims = (
        q.crossJoin(c)
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                _cosine_n(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "sim", "rn")
    )


def lcg_plane(p: int, dims: int) -> Column:
    """Hyperplane p as an array of ``dims`` pseudo-random components in
    [-1, 1), from the classic glibc LCG on index p*dims+d. Integer arithmetic
    → bit-exact on every engine."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda d: (
            (F.lit(1103515245).cast("bigint") * (p * dims + d) + 12345) % 2147483648
        )
        / 2147483648.0
        * 2
        - 1,
    )


def hyperplane_bucket(vec: Column, planes: int = 8, dims: int = 64) -> Column:
    """LSH bucket id: bit p = sign(vec · plane_p); 2^planes buckets."""
    out = F.lit(0)
    for p in range(planes):
        out = out + F.when(dot(vec, lcg_plane(p, dims)) >= 0, F.lit(1)).otherwise(
            F.lit(0)
        ) * (1 << p)
    return out


def _lcg_planes_py(planes: int, dims: int) -> list[list[float]]:
    """Driver-side replay of :func:`lcg_plane`: pure integer LCG (exact in
    Python ints like in BIGINT), then the same `/ 2^31 * 2 - 1` double ops
    in the same order — bit-identical plane components."""
    m = 2147483648
    return [
        [
            ((1103515245 * (p * dims + d) + 12345) % m) / 2147483648.0 * 2 - 1
            for d in range(dims)
        ]
        for p in range(planes)
    ]


_BUCKET_UDFS: dict[tuple, "object"] = {}


def _bucket_norm_udf(planes: int, dims: int):
    """Arrow-batched fused LSH-bucket + norm kernel — bit-identical to
    ``hyperplane_bucket`` + ``_norm`` by construction: each plane's dot is
    accumulated PER DIMENSION across the row batch (``acc += X[:, d] *
    plane[d]``), replaying :func:`dot`'s sequential left-to-right fold
    exactly (see _centroid_scores_udf for the exactness argument); the
    sign test and bit assembly are exact integer ops, np.sqrt is the same
    correctly-rounded IEEE sqrt as the JVM's. The interpreted Column form
    evaluates ``planes`` zip_with+aggregate HOF trees per row — no
    whole-stage codegen — which was the dominant cost of the ann_lsh /
    dedup_embedding entries (r13 profile; same finding as the r10 IVF
    kernel). Memoized per (planes, dims) for a stable UDF object."""
    key = (planes, dims)
    cached = _BUCKET_UDFS.get(key)
    if cached is not None:
        return cached
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = [np.asarray(r, dtype=np.float64) for r in _lcg_planes_py(planes, dims)]

    @pandas_udf("struct<bucket: int, nrm: double>")
    def _bn(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame(
                {"bucket": pd.Series([], dtype="int32"), "nrm": []}
            )
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        n, nd = X.shape
        acc = np.zeros(n)
        for d in range(nd):
            acc += X[:, d] * X[:, d]
        nrm = np.sqrt(acc)
        bucket = np.zeros(n, dtype=np.int64)
        for p, pv in enumerate(P):
            acc = np.zeros(n)
            for d in range(nd):
                acc += X[:, d] * pv[d]
            # ~(acc < 0), not (acc >= 0): Spark SQL orders NaN above all
            # doubles, so `dot >= 0` is TRUE for a NaN projection — numpy's
            # `acc >= 0` would be False there. Identical for finite acc.
            # NULL vectors are a documented precondition (np.stack would
            # raise); every caller feeds non-null embedding arrays.
            bucket |= (~(acc < 0)).astype(np.int64) << p
        return pd.DataFrame({"bucket": bucket.astype("int32"), "nrm": nrm})

    _BUCKET_UDFS[key] = _bn
    return _bn


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    planes: int = 8,
    dims: int = 64,
) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates (equi-join on the
    bucket id — the shuffle key — instead of a cross join)."""
    bn = _bucket_norm_udf(planes, dims)
    c = (
        corpus.select(
            F.col(id_col).alias("n_id"), _as_double(F.col(vec_col)).alias("nv")
        )
        .withColumn("bn", bn(F.col("nv")))
        .select(
            "n_id", "nv",
            F.col("bn.bucket").alias("bucket"), F.col("bn.nrm").alias("nn"),
        )
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"), _as_double(F.col(vec_col)).alias("qv")
        )
        .withColumn("bn", bn(F.col("qv")))
        .select(
            "q_id", "qv",
            F.col("bn.bucket").alias("bucket"), F.col("bn.nrm").alias("qn"),
        )
    )
    # pair scoring stays on the JVM fold: the A/B (r13) measured the Arrow
    # pair-dot SLOWER (extra Python round trip per joined batch) — the
    # kernel win is in the per-vector bucket+norm stage above
    sims = (
        q.join(c, "bucket")
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                _cosine_n(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "sim", "rn")
    )


_CENTROID_UDFS: dict[tuple, "object"] = {}


def _centroid_scores_udf(
    cent_vecs: list[list[float]], cent_norms: list[float], deterministic: bool = True
):
    """Arrow-batched centroid scoring: returns, per input vector,
    struct<nrm: its norm, sims: array of cosine vs each centroid>.

    Memoized per centroid VALUE tuple (like _JAC_UDFS): a fresh closure
    per invocation re-pays worker-side function deployment on every plan
    build; the centroids themselves are still collected from the input on
    EVERY call and merely compared — nothing dataset-derived is reused
    across datasets, and a changed corpus yields a different key.
    ``deterministic`` is part of the key: PySpark's asNondeterministic()
    flips the UDF object it is called on, so the nondeterministic variant
    is a separate object and the cached deterministic one never changes.

    Bit-identical to the Column-expression form by construction: the numpy
    loop accumulates PER DIMENSION across the row batch
    (``acc += X[:, d] * c[d]``), which replays the sequential left-to-right
    fold of :func:`dot` exactly — IEEE double add/mul are deterministic, so
    vectorizing across rows (not across dims) changes the execution engine
    without changing a single bit of any result. All rounding and
    tie-breaking stays JVM-side. Measured ~5× on the IVF assignment stage:
    the interpreted HOF form evaluates 16 × (zip_with + aggregate) nodes
    per row, which dominated the whole entry."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    memo_key = (
        tuple(tuple(v) for v in cent_vecs),
        tuple(float(x) for x in cent_norms),
        deterministic,
    )
    cached = _CENTROID_UDFS.get(memo_key)
    if cached is not None:
        return cached

    C = [np.asarray(v, dtype=np.float64) for v in cent_vecs]
    cn = [float(x) for x in cent_norms]

    def _score(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"nrm": [], "sims": []})
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        n, dims = X.shape
        acc = np.zeros(n)
        for d in range(dims):
            acc += X[:, d] * X[:, d]
        nrm = np.sqrt(acc)
        sims = np.empty((n, len(C)))
        for ci, cv in enumerate(C):
            acc = np.zeros(n)
            for d in range(dims):
                acc += X[:, d] * cv[d]
            sims[:, ci] = acc / (nrm * cn[ci])
        return pd.DataFrame({"nrm": nrm, "sims": list(sims)})

    udf = pandas_udf(_score, "struct<nrm: double, sims: array<double>>")
    if not deterministic:
        udf = udf.asNondeterministic()
    if len(_CENTROID_UDFS) >= 64:  # bound a long session's memo
        _CENTROID_UDFS.clear()
    _CENTROID_UDFS[memo_key] = udf
    return udf


_PAIR_DOT_UDF = []


def dot_arrow(a: Column, b: Column) -> Column:
    """Arrow-batched pairwise dot product — bit-identical to :func:`dot`
    (same per-dimension sequential accumulation; see
    :func:`_centroid_scores_udf` for the exactness argument)."""
    if not _PAIR_DOT_UDF:
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def _pair_dot(av: pd.Series, bv: pd.Series) -> pd.Series:
            if len(av) == 0:
                return pd.Series([], dtype="float64")
            A = np.stack([np.asarray(v, dtype=np.float64) for v in av])
            B = np.stack([np.asarray(v, dtype=np.float64) for v in bv])
            acc = np.zeros(len(A))
            for d in range(A.shape[1]):
                acc += A[:, d] * B[:, d]
            return pd.Series(acc)

        _PAIR_DOT_UDF.append(_pair_dot)
    return _PAIR_DOT_UDF[0](a, b)


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k — the inverted-file scale path.

    Structure (what matters at 100 TB):
    1. A small centroid set partitions the corpus: every vector is assigned
       to its nearest centroid ONCE (broadcast the centroids, map-side
       score, one groupBy(n_id) argmax shuffle — this is the "build the
       index" stage you persist between runs).
    2. A query scores only the vectors of its ``nprobe`` nearest clusters —
       an equi-join on the cluster id, so the probe cost is
       nprobe/n_centroids of the corpus instead of all of it, and the
       shuffle key is the cluster id exactly like any partitioned join.

    Centroids here are the vectors with id < n_centroids — a deterministic
    stand-in for an offline k-means (the IVF plan shape is identical; only
    centroid quality differs, which is a training concern, not an engine
    concern). Assignment argmax is made engine-exact by ranking on
    ``round(sim, 6) - c_id * 1e-9``: the perturbation is below the rounding
    resolution yet totally orders the ≤n_centroids candidates, so the
    lexicographic array_max and the oracle's ``arg_max`` cannot disagree.

    The centroid table is collected to the driver ONCE (n_centroids × dims
    floats — the persisted index artifact) and inlined as literal arrays, so
    cluster assignment is a pure map-side projection over the corpus. The
    earlier broadcast-crossJoin + groupBy(n_id) form shipped every corpus
    VECTOR n_centroids× through the argmax shuffle — corpus × 16 rows of
    64 doubles of exchange traffic that this formulation simply deletes.
    """
    cent_rows = (
        corpus.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col), _as_double(F.col(vec_col)))
        .orderBy(F.col(id_col))
        .collect()
    )

    def _py_norm(vals) -> float:
        # the exact Python replay of _norm's sequential fold: IEEE doubles,
        # same operation order → bit-identical to the Column form
        import math

        acc = 0.0
        for x in vals:
            acc += x * x
        return math.sqrt(acc)

    # The collected centroids (float32→double widening is exact, so the
    # Python floats reproduce the JVM cast bit-for-bit) are closed over by
    # the Arrow scoring kernel; norms are driver-computed once. Raw scores
    # come back to the JVM, where ALL rounding and tie-breaking happens —
    # the knife-edge ops stay in one engine.
    cent_ids = [int(r[0]) for r in cent_rows]
    cent_vecs = [[float(x) for x in r[1]] for r in cent_rows]
    cent_norms = [_py_norm(v) for v in cent_vecs]
    scorer = _centroid_scores_udf(cent_vecs, cent_norms)

    # asNondeterministic (guide §4.4): the inner probe join infers an
    # isnotnull(cluster) filter and pushes it below the assignment
    # projection, which re-evaluates the scorer — the r14 before-plan
    # showed TWO ArrowEvalPython(_score) nodes over the corpus (every
    # vector crossed the Python boundary and ran the 16-centroid numpy
    # scoring twice). Marking the corpus-side scorer non-deterministic
    # pins it to a single evaluation; the values are unchanged (the
    # kernel is pure), only the optimizer's freedom to duplicate it goes.
    # The probe side keeps the deterministic scorer.
    corpus_scorer = _centroid_scores_udf(cent_vecs, cent_norms, deterministic=False)
    e = corpus.select(
        F.col(id_col).alias("n_id"), _as_double(F.col(vec_col)).alias("nv")
    ).withColumn("cs", corpus_scorer(F.col("nv")))

    def _scored_structs(sims_col: str, negate: bool) -> str:
        """SQL text of the array<struct<s,c>> of per-centroid scores;
        lexicographic struct order then ranks by score (negated for
        descending picks). Built as ONE expression STRING parsed by a
        single F.expr call: the equivalent Column construction issued
        ~200 py4j round-trips per side (16 centroids × 6 Column ops × 2
        sides), which the r14 floor split measured as the dominant share
        of the entry's 0.68 s driver-side build. The parsed tree is
        operator-identical (same round/element_at/struct nodes; the
        `cid * 1.0E-9` product constant-folds in Catalyst to the same
        IEEE double the old `F.lit(float(cid)) * 1e-9` did)."""
        entries = []
        for idx, cid in enumerate(cent_ids):
            s = f"round(element_at({sims_col}, {idx + 1}), 6)"
            if negate:
                s = f"(- {s})"
            else:
                s = f"({s} - ({float(cid)!r} * 1.0E-9))"
            entries.append(f"struct({s} AS s, {cid} AS c)")
        return f"array({', '.join(entries)})"

    assigned = e.select(
        "n_id",
        "nv",
        F.col("cs.nrm").alias("nn"),
        # argmax by (score-with-tiebreak): map-side, no shuffle
        F.expr(
            f"array_max({_scored_structs('cs.sims', negate=False)}).c"
        ).alias("cluster"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qcs", scorer(F.col("qv")))
    probes = q.select(
        "q_id",
        "qv",
        F.col("qcs.nrm").alias("qn"),
        # nprobe nearest clusters: sort (−score, c_id) ascending ≡ the
        # (DESC c_sim, ASC cluster) ranking — again map-side, no window
        F.expr(
            "explode(transform(slice(array_sort("
            f"{_scored_structs('qcs.sims', negate=True)}"
            f"), 1, {nprobe}), st -> st.c))"
        ).alias("cluster"),
    )
    # BROADCAST the probe side (guide §3.1): |queries|·nprobe rows — the
    # planner's size estimate after the scorer UDF is garbage and the r14
    # before-plan showed it broadcasting the CORPUS side (every vector +
    # its 64 doubles shipped to every executor), which inverts at scale;
    # with the hint the corpus streams map-side and is never exchanged.
    # (pair scoring: dot_arrow vs the JVM fold A/B'd FLAT here in r14 —
    # mins 1.32 vs 1.35 s over 4 alternating samples — so the r10 kernel
    # stays; the lsh/embedding pair stages measured differently, see
    # _cosine_n's note)
    sims = (
        F.broadcast(probes)
        .join(assigned, "cluster")
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                dot_arrow(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "sim", "rn")
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    planes: int = 8,
    dims: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucketed candidate
    generation + exact cosine verification — the embedding-side analog of
    MinHash dedup (operators/dedup.py).

    Scale shape: each vector lands in ONE of 2^planes buckets; candidates
    come from a self-equi-join on the bucket id (the shuffle key), never an
    all-pairs cross join. The bucketed projection feeds both join sides, so
    it is materialized once (localCheckpoint) instead of recomputing the
    8×64-dim hyperplane projections twice; on a cluster this is the
    intermediate table you'd persist between pipeline stages. Verification
    cosine is a deterministic sequential fold, rounded to 6dp before the
    threshold so the cut is engine-stable.
    """
    bn = _bucket_norm_udf(planes, dims)  # fused Arrow kernel, bit-identical
    b = (
        corpus.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("bn", bn(F.col("v")))
        .select(
            "id", "v",
            F.col("bn.bucket").alias("bucket"), F.col("bn.nrm").alias("nrm"),
        )
        .localCheckpoint(eager=True)  # once per vector, feeds both join sides
    )
    left = b.select(
        F.col("bucket"), F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    right = b.select(
        F.col("bucket"), F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            # JVM fold, not dot_arrow: the r13 A/B measured the Arrow
            # pair-dot slower on this joined-pair shape (0.73 s vs 0.58 s)
            F.round(
                _cosine_n(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
