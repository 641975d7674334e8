"""LLM-training-data pipeline suite: dedup, similarity search, text
analysis, multimodal plumbing — over the driver's documents/embeddings
fixtures, each hash-oracled by DuckDB (the oracle replicates the exact same
deterministic construction: md5 min-hashes, LCG hyperplanes, integer
simhash).

These are first-class engine components per the north star (the reference
has no dedup/ANN/text operators). Implementations live in
arrow_datafusion_spark/operators/; this module binds them to driver
CORRECTNESS entries.

Note on dedup_exact: the sf fixtures contain no byte-identical documents, so
exact dedup runs on a normalized key (first 8 words — the "strip boilerplate
then hash" shape) which has real collisions (23 groups at sf0.01); the plan
is the same single hash-partitioned groupBy either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrow_datafusion_spark.operators import dedup as D
from arrow_datafusion_spark.operators import multimodal as M
from arrow_datafusion_spark.operators import similarity as SIM
from arrow_datafusion_spark.operators import text as T
from arrow_datafusion_spark.session import load_tables


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, names=("documents",))["documents"]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]


# --------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # substring_index extracts the first-8-words prefix without materializing
    # the full word array (25% faster than slice(split(...)) — the text is
    # never split beyond the 8th space).
    d = _docs(spark, sf_dir).withColumn(
        "norm_key", F.substring_index(F.col("text"), " ", 8)
    )
    return (
        D.exact_dedup_groups(d, "doc_id", "norm_key")
        # '|'-joined for the driver canonicalizer (can't hash array cells)
        .withColumn(
            "member_ids", F.array_join(F.col("member_ids").cast("array<string>"), "|")
        )
        .orderBy("digest")
    )


DEDUP_EXACT_SQL = """
SELECT md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS digest,
       min(doc_id) AS keep_id,
       count(*) AS n_copies,
       array_to_string(list_sort(list(doc_id)), '|') AS member_ids
FROM documents
GROUP BY 1
ORDER BY digest
"""


# --------------------------------------------------------------------------
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) candidate pairs, verified by exact
    Jaccard ≥ 0.3 — bucket-join, provably not all-pairs (operators/dedup.py)."""
    return D.minhash_near_duplicates(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.3
    ).orderBy("doc_a", "doc_b")


DEDUP_MINHASH_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([substring(text, i, 5)
                        for i in range(1, greatest(len(text)-4, 1)+1)]) AS shingles
  FROM documents
), mh AS (
  -- 2 seeded digests × 8 4-hex-char slices = 16 independent 16-bit minhashes
  SELECT doc_id, shingles,
         flatten([
           [list_min(list_transform(
              list_transform(shingles, x -> md5(CAST(s AS VARCHAR) || ':' || x)),
              m -> m[1 + 4*j : 4 + 4*j]))
            for j in range(0, 8)]
           for s in range(0, 2)]) AS sig
  FROM sh
), bands AS (
  SELECT doc_id, b,
         md5(sig[4*b+1] || '|' || sig[4*b+2] || '|' || sig[4*b+3] || '|' || sig[4*b+4]) AS key
  FROM mh, (SELECT unnest(range(0, 4)) AS b) bs
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
), scored AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
           / len(list_distinct(list_concat(s1.shingles, s2.shingles))) AS jaccard
  FROM cand
  JOIN sh s1 ON s1.doc_id = doc_a
  JOIN sh s2 ON s2.doc_id = doc_b
)
SELECT * FROM scored WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup: min-hash anchor prefilter (2 anchors/doc)
    then exact Jaccard ≥ 0.3 — equi-join on anchor digests, never all-pairs
    (operators/dedup.py ngram_jaccard_pairs)."""
    return D.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, anchors=2, threshold=0.3
    ).orderBy("doc_a", "doc_b")


DEDUP_NGRAM_SQL = """
WITH g AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in range(1, greatest(len(toks)-2, 1)+1)]) AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
), anch AS (
  SELECT doc_id, unnest(list_sort(list_transform(grams, x -> md5(x)))[1:2]) AS anchor
  FROM g
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM anch a JOIN anch b ON a.anchor = b.anchor AND a.doc_id < b.doc_id
), scored AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(g1.grams, g2.grams)) AS DOUBLE)
           / len(list_distinct(list_concat(g1.grams, g2.grams))) AS jaccard
  FROM cand JOIN g g1 ON g1.doc_id = doc_a JOIN g g2 ON g2.doc_id = doc_b
)
SELECT * FROM scored WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: hyperplane-LSH bucketed candidates
    verified by exact cosine ≥ 0.3 (operators/similarity.py)."""
    return SIM.embedding_near_duplicates(
        _emb(spark, sf_dir), "vec_id", "embedding", threshold=0.3
    ).orderBy("id_a", "id_b")


DEDUP_EMBEDDING_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bucketed AS (
  SELECT vec_id, v,
         list_sum([CASE WHEN list_inner_product(v,
             [((1103515245::BIGINT * (pp*64+d) + 12345) % 2147483648)
              / 2147483648.0 * 2 - 1 for d in range(0, 64)]) >= 0
           THEN 1 << pp ELSE 0 END for pp in range(0, 8)]) AS bucket
  FROM e
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.v, b.v)
             / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))),
             6) AS cos_sim
FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE cos_sim >= 0.3
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures (integer-exact) + per-signature collision
    count via a window — near-dup clusters share a signature.

    Scale note: 16 bits is this entry's declared signature width (compact
    Hamming sketch). As a BLOCKING key it saturates at corpus scale —
    dedup_components therefore groups on the 64-bit string form
    (operators/dedup.py simhash64_arrow; 100× probe evidence in
    BENCH_SCALE.md)."""
    d = _docs(spark, sf_dir)
    # Arrow-batched kernel (the kernel memoizes per-token masks);
    # dedup_components rides the same kernel
    sig = D.simhash16_arrow(T.ws_tokens(F.col("text")))
    from pyspark.sql import Window

    w = Window.partitionBy("simhash")
    return (
        d.select("doc_id", sig.alias("simhash"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


DEDUP_SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
), sig AS (
  SELECT doc_id,
         list_sum([CASE WHEN list_sum(list_transform(t,
             x -> ((strpos('0123456789abcdef', substring(md5(x), j+1, 1)) - 1) % 2) * 2 - 1
           )) > 0 THEN 1 << j ELSE 0 END
           for j in range(0, 16)]) AS simhash
  FROM toks
)
SELECT doc_id, CAST(simhash AS INT) AS simhash,
       count(*) OVER (PARTITION BY simhash) AS cluster_size
FROM sig
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-3 for query vectors vec_id < 10."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10)
    return SIM.cosine_topk(e, q, k=3).orderBy("q_id", "rn")


ANN_COSINE_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
sims AS (
  SELECT q_id, e.vec_id AS n_id,
         round(list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))),
               6) AS sim
  FROM q, e WHERE e.vec_id != q_id
)
SELECT q_id, n_id, sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
      FROM sims)
WHERE rn <= 3
ORDER BY q_id, rn
"""


# --------------------------------------------------------------------------
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate cosine top-3 (8 LCG hyperplanes → 256
    buckets; queries probe only their own bucket — the 100 TB path)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10)
    return SIM.lsh_cosine_topk(e, q, k=3).orderBy("q_id", "rn")


ANN_LSH_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bucketed AS (
  SELECT vec_id, v,
         list_sum([CASE WHEN list_inner_product(v,
             [((1103515245::BIGINT * (pp*64+d) + 12345) % 2147483648)
              / 2147483648.0 * 2 - 1 for d in range(0, 64)]) >= 0
           THEN 1 << pp ELSE 0 END for pp in range(0, 8)]) AS bucket
  FROM e
),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM bucketed WHERE vec_id < 10),
sims AS (
  SELECT q_id, b.vec_id AS n_id,
         round(list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))),
               6) AS sim
  FROM q JOIN bucketed b USING (bucket)
  WHERE b.vec_id != q_id
)
SELECT q_id, n_id, sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
      FROM sims)
WHERE rn <= 3
ORDER BY q_id, rn
"""


# --------------------------------------------------------------------------
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate cosine top-3 (16 deterministic centroids,
    nprobe=4 — queries score only 1/4 of the corpus)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10)
    return SIM.ivf_cosine_topk(e, q, k=3, n_centroids=16, nprobe=4).orderBy(
        "q_id", "rn"
    )


ANN_IVF_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id AS n_id,
         arg_max(c_id,
                 round(list_inner_product(v, cv)
                       / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(cv, cv))),
                       6) - c_id * 1e-9) AS cluster,
         any_value(v) AS nv
  FROM e, cent
  GROUP BY vec_id
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
probes AS (
  SELECT q_id, qv, cluster FROM (
    SELECT q_id, qv, c_id AS cluster,
           row_number() OVER (
             PARTITION BY q_id
             ORDER BY round(list_inner_product(qv, cv)
                            / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
                            6) DESC, c_id) AS c_rn
    FROM q, cent) WHERE c_rn <= 4
),
sims AS (
  SELECT q_id, n_id,
         round(list_inner_product(qv, nv)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))),
               6) AS sim
  FROM probes JOIN assigned USING (cluster)
  WHERE n_id != q_id
)
SELECT q_id, n_id, sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
      FROM sims)
WHERE rn <= 3
ORDER BY q_id, rn
"""


# --------------------------------------------------------------------------
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts (whitespace + BPE-ish), alpha ratio, quality score."""
    d = _docs(spark, sf_dir)
    text = F.col("text")
    n = F.char_length(text)
    return d.select(
        "doc_id",
        F.size(T.ws_tokens(text)).alias("n_ws_tokens"),
        F.size(T.bpe_ish_tokens(text)).alias("n_bpe_tokens"),
        n.alias("n_chars"),
        F.round(
            F.char_length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
            / F.greatest(n, F.lit(1)),
            6,
        ).alias("alpha_ratio"),
        T.quality_score(text).alias("quality"),
    )


TEXT_STATS_SQL = r"""
SELECT doc_id,
       len(string_split_regex(text, '\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens,
       len(text) AS n_chars,
       round(len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
             / greatest(len(text), 1), 6) AS alpha_ratio,
       round(0.4 * (CASE WHEN len(text) BETWEEN 100 AND 1000 THEN 1.0 ELSE 0.5 END)
           + 0.4 * (len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    / greatest(len(text), 1))
           + 0.2 * least(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x IN ('the','a','of','and','to')))
                         / greatest(len(string_split_regex(text, '\s+')), 1) * 5,
                         1.0), 6) AS quality
FROM documents
"""


# --------------------------------------------------------------------------
def text_lang_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID (stopword argmax), rolling hash, min-ngram fingerprint."""
    d = _docs(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    return d.select(
        "doc_id",
        T.lang_id(toks).alias("pred_lang"),
        T.rolling_hash(F.col("text")).alias("roll_hash"),
        T.min_ngram_fingerprint(toks, 3).alias("fingerprint"),
    )


TEXT_LANG_FINGERPRINT_SQL = r"""
WITH t AS (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM documents),
scored AS (
  SELECT doc_id, text, toks,
         [len(list_filter(toks, x -> x IN ('the','a','of','and','to'))),
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))),
          len(list_filter(toks, x -> x IN ('le','la','et','les','des'))),
          len(list_filter(toks, x -> x IN ('el','los','de','las','y'))),
          len(list_filter(toks, x -> x IN ('de','shi','le','bu','wo')))] AS scores
  FROM t
)
SELECT doc_id,
       (['en','de','fr','es','zh'])[list_position(scores, list_max(scores))] AS pred_lang,
       list_reduce(list_prepend(0::BIGINT,
           [ascii(substring(text, i, 1)) for i in range(1, greatest(len(text),1)+1)]),
           (acc, c) -> (acc * 31 + c) % 1000000007) AS roll_hash,
       list_min([md5(array_to_string(toks[i:i+2], ' '))
                 for i in range(1, greatest(len(toks)-2, 1)+1)]) AS fingerprint
FROM scored
"""


# --------------------------------------------------------------------------
def multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload → Arrow-batched mapInPandas feature extraction
    (byte count, md5, mean byte). Exercises the real multimodal plumbing —
    schema, batch iteration, Arrow transfer (operators/multimodal.py)."""
    d = _docs(spark, sf_dir)
    with_payload = M.attach_binary_payload(d, "doc_id", "text")
    return M.extract_byte_features(with_payload, "doc_id").orderBy("doc_id")


MULTIMODAL_BINARY_SQL = """
SELECT doc_id,
       CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
       md5(text) AS payload_md5,
       round(list_aggregate([ascii(substring(text, i, 1))
                             for i in range(1, len(text)+1)], 'sum')
             / CAST(len(text) AS DOUBLE), 6) AS mean_byte
FROM documents
ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash": dedup_minhash,
    "dedup_ngram": dedup_ngram,
    "dedup_embedding": dedup_embedding,
    "dedup_simhash": dedup_simhash,
    "ann_cosine": ann_cosine,
    "ann_lsh": ann_lsh,
    "ann_ivf": ann_ivf,
    "text_stats": text_stats,
    "text_lang_fingerprint": text_lang_fingerprint,
    "multimodal_binary": multimodal_binary,
}
ORACLE = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_minhash": DEDUP_MINHASH_SQL,
    "dedup_ngram": DEDUP_NGRAM_SQL,
    "dedup_embedding": DEDUP_EMBEDDING_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "ann_cosine": ANN_COSINE_SQL,
    "ann_lsh": ANN_LSH_SQL,
    "ann_ivf": ANN_IVF_SQL,
    "text_stats": TEXT_STATS_SQL,
    "text_lang_fingerprint": TEXT_LANG_FINGERPRINT_SQL,
    "multimodal_binary": MULTIMODAL_BINARY_SQL,
}
