"""Deduplication operators: exact, MinHash+LSH, SimHash.

Scale design (the 100 TB contract):
- NOTHING here is all-pairs. Exact dedup is one hash-partitioned groupBy on a
  16-byte digest. MinHash candidate generation is a self-equi-join on
  (band_id, band_key) — only documents sharing an LSH bucket ever meet, so
  the shuffle carries (doc_id, 4 band keys) per doc, not O(n²) pairs.
- All hashing is md5 so the same computation is expressible in the
  DuckDB oracle (queries/llm.py DEDUP_MINHASH_SQL, the reference MinHash
  construction) and is cluster-deterministic (no seed state on executors).

Reference has no dedup operator; the MinHash construction follows the
classic Broder scheme (shingle → k independent min-hashes → banded LSH).
"""

from __future__ import annotations


import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "exact_dedup_groups",
    "minhash_candidate_pairs",
    "minhash_near_duplicates",
    "simhash16_arrow",
    "simhash64_arrow",
    "word_ngrams",
    "word_ngrams_arrow",
    "ngram_jaccard_pairs",
]


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: hash-partitioned groupBy on md5(text). Returns one row per
    distinct content: (digest, keep_id = min id, n_copies, dup_ids sorted).

    At 100 TB this is a single shuffle on a 32-char digest — the canonical
    map-side-combine aggregation; no content string ever crosses the wire.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.array_sort(F.collect_list(id_col)).alias("member_ids"),
        )
    )


_SIG_UDFS: dict[tuple, "object"] = {}


def _minhash_band_udf(k: int, num_hashes: int, rows_per_band: int):
    """Fused Arrow-batched signature→band-key kernel, byte-identical to
    queries/llm.py DEDUP_MINHASH_SQL: distinct char k-grams →
    md5('<seed>:'||gram) → min of each 4-hex slice → md5('s1|s2|..') per
    band. One md5 yields eight 16-bit hash functions (its eight 4-hex
    slices), and 16 bits suffice for min-hashing: a ~300-gram document
    samples a 65,536-value space (band false positive ≈ (300/65536)^4).
    Emits the band keys DIRECTLY (array<string>, one per band) so the plan
    never ships the num_hashes-element signature array or runs a JVM
    md5/concat layer — posexplode on the result is the whole banding stage.

    Per-gram digest slices are memoized ACROSS batches (python workers are
    reused): common k-grams dominate any real corpus, so the md5 work per
    doc collapses to dict hits + one vectorized np.min. Capped so worker
    RSS stays bounded; lowercase-hex lexicographic min == numeric min, so
    the uint16 min is exactly the string min of the SQL form.
    See minhash_candidate_pairs for why this is a UDF at all.
    Memoized per (k, num_hashes, rows_per_band) so repeated queries reuse
    one UDF object (stable pickle payload across plans).
    """
    key = (k, num_hashes, rows_per_band)
    cached = _SIG_UDFS.get(key)
    if cached is not None:
        return cached
    nseeds = (num_hashes + 7) // 8
    nbands = (num_hashes + rows_per_band - 1) // rows_per_band

    def batch(texts):
        import hashlib

        import numpy as np
        import pandas as pd

        # Worker-global (guide §4.5): the pickled function object is fresh
        # every task, so a closure-attribute cache never outlived one task;
        # the module singleton survives in a reused worker, so a warm
        # worker's md5 work collapses to dict hits across tasks too.
        from arrow_datafusion_spark import worker

        cache = worker.shared_dict(("mh_slices", nseeds, num_hashes))
        md5_ = hashlib.md5

        def gram_slices(g: str):
            a = cache.get(g)
            if a is None:
                # digest BYTES big-endian-u2 == int(hexdigest[4j:4j+4], 16)
                # slice-for-slice (hex is just the byte pairs) — same
                # values as the hex-parsing form, ~2× cheaper cold. The
                # r10 1000×-corpus profile showed the cold path DOMINATES
                # under an open vocabulary: the probe's per-copy-disjoint
                # gram spaces (2M uniques) blow past the cap, and the old
                # freeze-when-full policy then recomputed EVERY gram
                # forever. Clear-on-full keeps caching — hot grams of a
                # zipf vocabulary re-enter immediately, and worst case
                # equals the old policy's permanent miss rate.
                a = np.frombuffer(
                    b"".join(
                        md5_(b"%d:" % s + g.encode()).digest()
                        for s in range(nseeds)
                    ),
                    dtype=">u2",
                )[:num_hashes].astype(np.uint16)
                if len(cache) >= 300_000:  # ~40 MB/worker ceiling
                    cache.clear()
                cache[g] = a
            return a

        bands, ngs = [], []
        md5 = hashlib.md5
        for t in texts:
            grams = {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}
            mins = np.minimum.reduce([gram_slices(g) for g in grams])
            hexs = [format(v, "04x") for v in mins]
            bands.append(
                [
                    md5(
                        "|".join(
                            hexs[b * rows_per_band : (b + 1) * rows_per_band]
                        ).encode()
                    ).hexdigest()
                    for b in range(nbands)
                ]
            )
            # distinct-gram count, free here (the set already exists) —
            # feeds the candidate stage's Jaccard upper-bound prune
            ngs.append(len(grams))
        return pd.DataFrame({"bands": bands, "ng": ngs})

    udf = _SIG_UDFS[key] = F.pandas_udf(
        batch, "struct<bands: array<string>, ng: int>"
    )
    return udf


def _parallelism(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition by id iff the input is under-partitioned for the
    session's core count. Signature/shingle projection is CPU-bound (~16
    md5s per shingle), so a single-file parquet input (1 split) would pin
    the whole stage to one core; on a real cluster the input already has
    enough splits and this is a no-op — no gratuitous corpus shuffle."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want, id_col)
    return df


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    prune_threshold: float | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) via bucket grouping — the scalable
    core: docs only meet if a whole band matches.

    ``prune_threshold``: Jaccard upper-bound prune (round-11; the r10
    1000×-decade profile put the VERIFY stage at ~100 s/slot — the #2
    cost). |g(a)∩g(b)| ≤ min(|g(a)|,|g(b)|) and |g(a)∪g(b)| ≥
    max(|g(a)|,|g(b)|), so J ≤ min/max: a pair whose distinct-gram counts
    (free in the signature kernel) satisfy min < t·max can NEVER verify at
    threshold t and is dropped BEFORE the distinct and the text join. The
    bound is exact, so the verified pair set is byte-identical; the
    comparison carries a 1e-9 relative slack so float rounding of t·max
    can only UNDER-prune, never drop a boundary pair."""
    # Signatures are computed in an Arrow-batched pandas UDF: the JVM
    # expression form (array transforms of md5 slices) runs as INTERPRETED
    # higher-order functions — no whole-stage codegen — and allocates one
    # short-lived string per shingle×seed×slice, which made the signature
    # stage both the CPU and the GC bottleneck (full-GC pauses gave ±2×
    # run-to-run variance). Python's C hashlib.md5 produces byte-identical
    # hex, so the construction stays engine-exact vs the DuckDB oracle while
    # running ~5× faster. This is the sanctioned UDF exception: built-in
    # operators genuinely can't express the semantics efficiently.
    band_udf = _minhash_band_udf(k, num_hashes, rows_per_band)
    banded = (
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc"), band_udf(F.col(text_col)).alias("s"))
        .select(
            "doc",
            F.col("s.ng").alias("ng"),
            F.posexplode("s.bands").alias("band", "key"),
        )
    )
    # Pairs via ONE groupBy(bucket) + in-bucket combination expansion,
    # rather than a bucket self-join: one exchange on the bucket key instead
    # of two join exchanges + the post-join filter, and the signature
    # subtree has a single consumer (no checkpoint materialization).
    # The expansion posexplodes the bucket FIRST and pairs each member with
    # the tail slice after it: every unordered pair is produced exactly
    # once, and no row ever holds more than O(|bucket|) elements — a
    # D-member exact-duplicate cluster (which shares EVERY band key) costs
    # D rows of ≤D elements, not one D²-element array on one executor.
    # Total work is the same O(bucket²) candidate count the banded-join
    # form also produces; LSH band width bounds bucket size, which is the
    # standard MinHash-LSH contract.
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.collect_list(F.struct("doc", "ng")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    tail = F.slice(
        F.col("docs"),
        F.col("i") + 2,
        F.greatest(F.size("docs") - F.col("i") - 1, F.lit(0)),
    )
    expanded = buckets.select(
        "docs", F.posexplode("docs").alias("i", "x")
    ).select("x", F.explode(tail).alias("y"))
    if prune_threshold is not None and prune_threshold > 0:
        # J ≤ min(ng)/max(ng) < t ⇒ can't verify — drop before the
        # distinct/text join. Slack keeps boundary pairs (under-prune only).
        t_safe = prune_threshold * (1.0 - 1e-9)
        expanded = expanded.filter(
            F.least("x.ng", "y.ng").cast("double")
            >= F.lit(t_safe) * F.greatest("x.ng", "y.ng")
        )
    return (
        expanded.select(
            F.least("x.doc", "y.doc").alias("doc_a"),
            F.greatest("x.doc", "y.doc").alias("doc_b"),
        )
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.4,
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Candidate pairs verified by exact Jaccard over shingle sets.

    Verification recomputes shingles ONLY for documents that appear in a
    candidate pair (semi-join pre-filter) — the candidate set is orders of
    magnitude smaller than the corpus, so this beats caching corpus-wide
    shingle arrays at any scale.
    """
    # The candidate set is referenced three times below (both semi-filter
    # sides + the final join); localCheckpoint materializes it once — it is
    # tiny (LSH collisions only), while its parent subtree (signatures +
    # bucket join over the whole corpus) is the expensive part.
    pairs = minhash_candidate_pairs(
        df, id_col, text_col, k, num_hashes, rows_per_band,
        prune_threshold=threshold,
    ).localCheckpoint(eager=True)

    def gram_fn(t: str):
        return frozenset(t[i : i + k] for i in range(max(len(t) - k + 1, 1)))

    return _verify_pairs_jaccard(
        pairs, df, id_col, text_col, gram_fn, threshold, cache_key=("char", k)
    )


_JAC_UDFS: dict[tuple, "object"] = {}

# Cap on the candidate-doc TEXT bytes we are willing to broadcast to every
# executor (aligned with the order of spark.sql.autoBroadcastJoinThreshold
# defaults scaled for a deliberate, measured broadcast).
_BROADCAST_TEXT_BYTES_CAP = 64 * 1024 * 1024


def _verify_pairs_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_fn,
    threshold: float,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs, shared by the MinHash
    (char-shingle) and n-gram (word-gram) dedup operators.

    Exact Jaccard runs in an Arrow-batched pandas UDF over the raw texts:
    the Column form (array_intersect + array_union) is interpreted per pair
    — at a 1.6% candidate rate (80k pairs at sf0.1) it was 3/4 of the
    operator's wall-clock — and joining pre-computed gram ARRAYS ships
    hundreds of small strings per pair side through the shuffle; the text is
    ~5× smaller and Python set building is cheap. The score is the RAW IEEE
    quotient of the two set sizes — correctly-rounded division of identical
    integers is bit-identical on every engine, so no cross-engine rounding
    convention is needed for exact hash comparison.
    """
    cand_docs = df.select(id_col, text_col).join(
        pairs.select(F.col("doc_a").alias(id_col))
        .unionAll(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct(),
        id_col,
        "left_semi",
    )
    # The candidate-doc set is consumed at least twice (side a, side b) and
    # its parent subtree (scan + distinct + semi-join) is the expensive
    # part, so materialize it ONCE up front — disk-backed, linear in the
    # candidate set, never the corpus. The broadcast decision is then gated
    # on the BYTES of what would actually be broadcast — the candidate-doc
    # TEXT — not the pair count: 1M pairs can reference 2M distinct docs at
    # ~KB of text each, a multi-GB broadcast that would OOM executors. The
    # byte measure is an aggregate over the already-materialized partitions
    # (no recompute of the semi-join subtree).
    cand_docs = cand_docs.localCheckpoint(eager=True)
    stats = cand_docs.agg(
        F.sum(F.octet_length(F.col(text_col).cast("string"))).alias("bytes")
    ).first()
    small = (stats["bytes"] or 0) <= _BROADCAST_TEXT_BYTES_CAP
    # Negative result (BENCH_SCALE.md r12): shipping gram sets instead of texts lost its A/B.
    # Negative result: a JVM gram join (explode distinct grams, join on gram within the pairs,
    # count) gave byte-identical pairs but lost: warm dedup_minhash 1.72 -> 2.36 s at perfbench
    # sf0.01 and 3.86 -> 13.33 s at --sf 0.1 (medians of 3 seeds each).
    # Repartition the PAIRS (two ids/row) before attaching texts, not
    # after: repartitioning the joined result would ship text_a+text_b
    # (~4 KB/pair — ~300 MB at sf0.1's 80k pairs) through the exchange;
    # this way only ids cross it, and the UDF runs in the join stage.
    # Partitioning by doc_a both spreads the CPU-bound UDF across cores
    # (AQE would coalesce the tiny-by-bytes pair set to one partition) and
    # gives batches cache locality.
    spread = pairs.repartition(_parallelism(df), "doc_a")
    # NOTE (r14 negative result): an id-only verify variant — collect the
    # candidate texts, ship them as a python-dict sc.broadcast, and run the
    # Jaccard UDF over (doc_a, doc_b) alone — won its stage A/B at sf0.1
    # (1.56 vs 1.98 s; the per-pair text_a+text_b Arrow transfer is ~2 KB
    # vs 16 B of ids) but was 4.5× SLOWER on the 10× scale probe (60 vs
    # 13 s): each of 32 workers unpickles the whole multi-MB dict per
    # invocation, and the per-worker gram working set exceeds any sane
    # cache budget, so every text re-tokenizes per PAIR. Reverted — the
    # JVM broadcast-hash-join shape below is the scale-correct form.

    a = cand_docs.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("text_a")
    )
    b = cand_docs.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("text_b")
    )

    # Memoized per gram kind (cache_key) so every invocation of the same
    # operator ships ONE stable UDF object — the first use of a fresh
    # closure pays worker-side function deployment (~0.5-1 s measured),
    # which min-of-N benching would otherwise re-pay every plan build.
    jac = _JAC_UDFS.get(cache_key) if cache_key is not None else None
    if jac is None:

        def jac_batch(av, bv):
            import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
            import pandas as pd

            # Each doc appears in ~20 pairs (80k pairs over 4k docs at
            # sf0.1): gram-building per PAIR was 120 µs/pair; memoized per
            # unique text it is a set-intersection (~8 µs). The cache is
            # per Arrow batch DELIBERATELY — r14 measured the guide-§4.5
            # worker-global variant (gram sets kept across tasks in an
            # importable module, PID-guarded, freeze-when-full budget) 8×
            # SLOWER on the 10× corpus (verify 30.6 s vs 3.8 s, candidates
            # unchanged): a persistent multi-million-object graph of
            # frozensets-of-strings makes every CPython gen-2 GC pass scan
            # it while the UDF loop allocates, which dwarfs the tokenize
            # work the cache saves. Short-lived per-batch dicts stay in
            # the young generations and die cheap.
            cache: dict = {}

            def grams(t):
                s = cache.get(t)
                if s is None:
                    s = cache[t] = gram_fn(t)
                return s

            out = []
            for x, y in zip(av, bv):
                sx, sy = grams(x), grams(y)
                inter = len(sx & sy)
                # ONE IEEE division of two exact integers — correctly
                # rounded, therefore bit-identical to the oracle's
                # CAST(int)/int division (no decimal-rounding convention
                # to keep in sync across engines)
                out.append(inter / (len(sx) + len(sy) - inter))
            return pd.Series(out)

        # Marked nondeterministic only so that the optimizer keeps the
        # threshold filter above the projection: pushed below it, the filter
        # inlines the UDF call and every verified pair runs it twice.
        jac = F.pandas_udf(jac_batch, "double").asNondeterministic()
        if cache_key is not None:
            _JAC_UDFS[cache_key] = jac
    # Candidate-doc texts: BROADCAST both sides when the measured byte size
    # of the semi-joined text set fits comfortably in executor memory. The
    # planner won't pick this itself — the semi-join ruins its size
    # estimate and it falls back to shuffling the a-joined result
    # (text_a!) by doc_b, ~120 MB at sf0.1 and 2× the verify wall-clock.
    # Above the cap (corpus-scale candidate sets) the shuffle join is the
    # correct shape.
    if small:
        a, b = F.broadcast(a), F.broadcast(b)
    # The stage ends in an exchange that carries only the verified pairs, so
    # the UDF runs once per candidate pair: a caller's global sort samples
    # its range bounds in a job of its own, and without this exchange that
    # job re-ran the whole join and UDF stage (two identical 0.6 s jobs).
    return (
        spread.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac("text_a", "text_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .repartition("doc_a")
    )


_SIMHASH_UDF = []


def simhash16_arrow(tokens: Column) -> Column:
    """16-bit SimHash over a token array (near-dup signature for Hamming
    bucketing), Arrow-batched: bit j is the sign of the sum over the
    distinct tokens of ±1, by the parity of hex digit j of the token's md5.
    The ``dedup_simhash`` entry's DuckDB oracle
    (queries/llm.py ``DEDUP_SIMHASH_SQL``) computes the same bits in SQL
    and pins the values. Consumes the already-split JVM token array, so
    tokenization cannot diverge. Tokens repeat heavily across a corpus, so
    the per-batch memo turns ~1M md5 calls into ~vocab-size calls. Narrow
    and shuffle-free."""
    if not _SIMHASH_UDF:
        import hashlib

        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import IntegerType

        @pandas_udf(IntegerType())
        def _simhash(tok_series: pd.Series) -> pd.Series:
            import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
            memo: dict[str, int] = {}

            def parity_mask(tok: str) -> int:
                m = memo.get(tok)
                if m is None:
                    h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                    m = 0
                    for j in range(16):
                        if int(h[j], 16) & 1:
                            m |= 1 << j
                    memo[tok] = m
                return m

            out = []
            for toks in tok_series:
                seen = dict.fromkeys(toks)  # array_distinct, order-preserving
                counts = [0] * 16
                n = len(seen)
                for tok in seen:
                    m = parity_mask(tok)
                    for j in range(16):
                        if m >> j & 1:
                            counts[j] += 1
                # contrib_j = 2*count_j - n; bit set iff contrib_j > 0
                out.append(sum(1 << j for j in range(16) if 2 * counts[j] > n))
            return pd.Series(out)

        _SIMHASH_UDF.append(_simhash)
    return _SIMHASH_UDF[0](tokens)


_SIMHASH64_UDF = []


def simhash64_arrow(tokens: Column) -> Column:
    """64-bit SimHash as a 64-char bit string (bit j at position j,
    j ascending): bit j is the sign of the ±1 parity stream from bit
    (j // 32) of md5 hex digit (j % 32) — two independent bits per hex
    digit, 64 streams from one md5.

    WHY 64 AND WHY A STRING: a 16-bit signature has 65,536 buckets — at
    corpus scale every bucket fills with unrelated documents and any
    grouping on it degenerates into giant accidental clusters (measured:
    the 100× scale probe drove dedup_components from 5 convergence rounds
    to 19 on the 16-bit key; BENCH_SCALE.md r9). 64 bits keeps collisions
    negligible past 2^32 documents. The bit-STRING form makes the value
    engine-portable — a 64-bit integer with bit 63 set renders negative
    in Spark's BIGINT but positive in DuckDB's HUGEINT, so string casts
    of an integer form could never hash-match across engines."""
    if not _SIMHASH64_UDF:
        import hashlib

        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import StringType

        @pandas_udf(StringType())
        def _simhash64(tok_series: pd.Series) -> pd.Series:
            import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
            memo: dict[str, int] = {}

            def parity_mask(tok: str) -> int:
                m = memo.get(tok)
                if m is None:
                    h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                    m = 0
                    for j in range(64):
                        if (int(h[j % 32], 16) >> (j // 32)) & 1:
                            m |= 1 << j
                    memo[tok] = m
                return m

            out = []
            for toks in tok_series:
                seen = dict.fromkeys(toks)  # array_distinct, order-preserving
                counts = [0] * 64
                n = len(seen)
                for tok in seen:
                    m = parity_mask(tok)
                    for j in range(64):
                        if m >> j & 1:
                            counts[j] += 1
                # contrib_j = 2*count_j - n; bit set iff contrib_j > 0
                out.append(
                    "".join(
                        "1" if 2 * counts[j] > n else "0" for j in range(64)
                    )
                )
            return pd.Series(out)

        _SIMHASH64_UDF.append(_simhash64)
    return _SIMHASH64_UDF[0](tokens)


def word_ngrams(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of a token array.

    ``concat_ws over slice`` rather than per-position ``element_at``: the
    slice truncates at the array end (short docs yield the join of all
    their tokens — same as the oracle's truncating list slice), and one
    slice per gram was measured 3× faster than n element_at calls (both
    are interpreted HOF lambdas; fewer expression nodes win). Still a
    narrow, shuffle-free per-row kernel."""
    count = F.greatest(F.size(tokens) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        )
    )


_NGRAM_UDFS: dict[int, "object"] = {}


def word_ngrams_arrow(tokens: Column, n: int = 3) -> Column:
    """Arrow-batched (pandas UDF) variant of :func:`word_ngrams` for hot
    full-corpus explodes.

    Interpreted HOF lambdas don't reach whole-stage codegen, and the n-gram
    transform is the single hottest expression in the decontamination
    pipeline — measured at sf0.1: 6.1 s (element_at HOF) / 1.9 s (slice
    HOF) / 0.5 s (this Arrow batch). The UDF consumes the ALREADY-SPLIT
    token array produced by the same JVM ``split`` the HOF path uses, so
    tokenization semantics cannot diverge — Python only joins adjacent
    tokens, which is byte-identical to ``concat_ws``. Narrow and
    shuffle-free, so the 100 TB shape is unchanged; like
    ``_verify_pairs_jaccard`` this is a measured, documented exception to
    the built-ins-first rule."""
    udf = _NGRAM_UDFS.get(n)
    if udf is None:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, StringType

        @pandas_udf(ArrayType(StringType()))
        def _ngrams(tok_series: pd.Series) -> pd.Series:
            import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
            out = []
            k = n
            for toks in tok_series:
                m = max(len(toks) - k + 1, 1)
                # dict.fromkeys = order-preserving distinct (array_distinct)
                out.append(
                    list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(m)))
                )
            return pd.Series(out)

        udf = _NGRAM_UDFS[n] = _ngrams
    return udf(tokens)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    anchors: int = 2,
    threshold: float = 0.2,
) -> DataFrame:
    """Word-n-gram Jaccard near-dup: candidate pairs share one of each
    document's ``anchors`` smallest md5(ngram) values (min-wise anchor
    prefiltering — a one-band MinHash), then exact n-gram Jaccard ≥
    threshold verifies.

    Scale shape: each doc emits exactly ``anchors`` join keys, so the
    candidate join is an equi-join on a 32-char digest — O(collisions), not
    all-pairs. High-Jaccard pairs share many grams, so with high probability
    they share a minimum-hash gram (the MinHash argument); anchors=2 is two
    independent chances. Deterministic end-to-end (md5, integer mins) →
    bit-reproducible on any engine, no RNG on executors.
    """
    # Anchor extraction stays JVM-side (r13 A/B: the interpreted-HOF
    # gram+md5 build measured ~0.4-0.5 s FASTER at sf0.1 than a fused
    # Arrow anchor kernel that briefly replaced it (removed in r14 as
    # dead code — see git history for _ngram_anchor_udf) — the Python
    # boundary round-trip cost more than the HOF interpretation), but the
    # r13 structural wins are kept: the eager checkpoint that feeds both
    # self-join sides now holds only (doc, ng, anchor) — `anchors` 32-char
    # digests + one int per doc, derived BEFORE the checkpoint — where the
    # r12 form checkpointed the full distinct-gram arrays and re-ran
    # md5+sort+slice from them on each join side.
    anchored = (
        _spread(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            word_ngrams(F.split(F.col(text_col), " "), n).alias("grams"),
        )
        .select(
            "doc",
            F.size("grams").alias("ng"),
            F.explode(
                F.slice(F.array_sort(F.transform("grams", F.md5)), 1, anchors)
            ).alias("anchor"),
        )
        .localCheckpoint(eager=True)
    )
    left = anchored.alias("l")
    right = anchored.alias("r")
    # Exact Jaccard upper-bound prune (the minhash candidate stage's r11
    # bound, applied here in r13 — the verify stage was 70% of this
    # operator's wall-clock at sf0.1): J ≤ min(ng)/max(ng), so a pair
    # whose distinct-gram counts satisfy min < t·max can never verify at
    # threshold t; the 1e-9 relative slack means float rounding can only
    # UNDER-prune, so the verified pair set is byte-identical
    # (tests/test_plans.py pins it).
    t_safe = threshold * (1.0 - 1e-9)
    cand = (
        left.join(
            right,
            (F.col("l.anchor") == F.col("r.anchor"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .filter(
            F.least("l.ng", "r.ng").cast("double")
            >= F.lit(t_safe) * F.greatest("l.ng", "r.ng")
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )
    def gram_fn(t: str):
        toks = t.split(" ")
        # join of the ≤n tokens at each start — matches word_ngrams'
        # concat_ws over element_at (NULLs past the end are skipped) and the
        # oracle's truncating list slice.
        return frozenset(
            " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))
        )

    return _verify_pairs_jaccard(
        cand.localCheckpoint(eager=True),
        df,
        id_col,
        text_col,
        gram_fn,
        threshold,
        cache_key=("word", n),
    )
