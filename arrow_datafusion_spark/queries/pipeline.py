"""Corpus-curation pipeline suite: the remaining operations a large-scale
training-data pipeline runs between raw crawl and tokenized shards —
per-source quota capping, deterministic stratified sampling, sequence
packing, dedup-cluster resolution (connected components), TF-IDF term
scoring, and PII-style redaction.

Like queries/llm.py these are beyond the reference's own surface but
first-class per the north star; every entry is hash-oracled by DuckDB
running the identical deterministic construction.

Scale notes (100 TB): every entry is one or two hash shuffles on narrow
keys — no all-pairs, no driver collect (the only driver loop is the
connected-components label-propagation fixpoint, which runs O(graph
diameter) distributed rounds over one (node, label) row per document).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arrow_datafusion_spark.operators import dedup as D
from arrow_datafusion_spark.operators import text as T
from arrow_datafusion_spark.session import load_tables

# set by dedup_components after each run — read by tools/scale_probe.py
# (the round count is the operator's O(log diameter) cost model)
LAST_CC_ROUNDS: int | None = None


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, names=("documents",))["documents"]


# --------------------------------------------------------------------------
def pipeline_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (CommonCrawl-style domain balancing): keep
    the top-3 docs per source by quality score. One window over a hash
    shuffle on `source`; at 100 TB the quota guards against any one domain
    flooding the mix."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", T.quality_score(F.col("text")).alias("quality"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("source", "rank")
    )


PIPELINE_SOURCE_QUOTA_SQL = r"""
WITH q AS (
  SELECT doc_id, source,
         round(0.4 * (CASE WHEN len(text) BETWEEN 100 AND 1000 THEN 1.0 ELSE 0.5 END)
             + 0.4 * (len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                      / greatest(len(text), 1))
             + 0.2 * least(len(list_filter(string_split_regex(text, '\s+'),
                                x -> x IN ('the','a','of','and','to')))
                           / greatest(len(string_split_regex(text, '\s+')), 1) * 5,
                           1.0), 6) AS quality
  FROM documents
)
SELECT doc_id, source, quality, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY quality DESC, doc_id) AS rank
      FROM q)
WHERE rank <= 3
ORDER BY source, rank
"""


# --------------------------------------------------------------------------
def pipeline_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: bucket = first-6-hex-chars of
    md5(doc_id) as an integer mod 1000; keep 20% of 'en' docs and 50% of
    everything else. Hash-based (not random) so the sample is reproducible
    across engines, runs, and cluster sizes — the property a training-data
    pipeline actually needs. Per-row, shuffle-free, scan speed at 100 TB."""
    d = _docs(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 1000
    )
    keep_below = F.when(F.col("lang") == "en", F.lit(200)).otherwise(F.lit(500))
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < keep_below)
        .orderBy("doc_id")
    )


PIPELINE_HASH_SAMPLE_SQL = """
WITH b AS (
  SELECT doc_id, lang,
         list_reduce([strpos('0123456789abcdef',
                             substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1
                      for i in range(1, 7)],
                     (a, d) -> a * 16 + d) % 1000 AS bucket
  FROM documents
)
SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
FROM b
WHERE bucket < (CASE WHEN lang = 'en' THEN 200 ELSE 500 END)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk): documents are concatenated in
    doc_id order and split into 2048-token training sequences; each doc is
    assigned the sequence its first token lands in. One cumulative-sum
    window + one groupBy. At 100 TB the order-by key would be a
    (shard, doc) composite so each shard packs independently — the
    construction is identical."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(T.ws_tokens(F.col("text")))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    toks = d.select(F.col("doc_id"), n_tok.alias("n_tok"))
    packed = toks.withColumn(
        "seq_id", F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 2048)
    )
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


PIPELINE_PACK_SQL = r"""
WITH toks AS (
  SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tok FROM documents
), packed AS (
  SELECT doc_id, n_tok,
         CAST(floor((sum(n_tok) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    / 2048) AS BIGINT) AS seq_id
  FROM toks
)
SELECT seq_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed
GROUP BY seq_id
ORDER BY seq_id
"""


# --------------------------------------------------------------------------
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster resolution: connected components over the union of two
    cheap similarity groupings (shared first-8-words digest, shared 16-bit
    SimHash) by alternating min-label propagation — the step that turns
    pairwise near-dup evidence into keep/drop decisions.

    Scale design: the state is exactly ONE (node, label) row per document;
    each iteration broadcasts the per-group min label through two window
    mins (one hash shuffle per key) followed by a pointer-doubling
    (hash-to-min) step — label ← min(label, label[label]) via one self
    equi-join — in the SAME materialized job, and labels only decrease, so
    convergence is detected by an unchanged label sum. The doubling step
    collapses label chains in O(log diameter) rounds instead of
    O(diameter): measured at sf0.1 this cut 8 materialization round-trips
    to 5 (the per-round cost is scheduling floor, so rounds ARE the cost).
    A worktable-style fixpoint that UNIONs every (node, label) pair ever
    seen (the recursive-CTE formulation the DuckDB oracle uses) accumulates
    O(component²) rows on big near-dup clusters — measured 117 s at sf0.1
    where this loop takes ~2 s — fine for the oracle's sf0.01 gate, fatal
    at corpus scale. The SimHash key uses the Arrow-batched kernel
    (simhash16_arrow)."""
    d = _docs(spark, sf_dir)
    # k2 is the 64-BIT simhash: the 16-bit form has 65,536 buckets, which
    # saturate at corpus scale and chain unrelated docs into giant
    # accidental components (100× probe: convergence rounds 5 -> 19 on the
    # 16-bit key; 64-bit keeps collisions negligible past 2^32 docs)
    keyed = d.select(
        "doc_id",
        F.md5(F.substring_index(F.col("text"), " ", 8)).alias("k1"),
        D.simhash64_arrow(T.ws_tokens(F.col("text"))).alias("k2"),
    )

    from pyspark.sql import Observation

    # Initialization folds the first label-propagation half-round (the two
    # per-key window mins) into the INITIAL checkpoint job, and rides the
    # starting label sum on that job's Observation: the r13 form spent one
    # full round re-deriving exactly these group mins from label=doc_id,
    # plus a separate agg job for prev_sum. Correctness: the round
    # operator is monotone (labels only decrease) and its unique fixpoint
    # is the per-component min; starting from the group-min labeling —
    # pointwise between doc_id and the fixpoint — converges to the SAME
    # labels (labelsum-verified at sf0.1 and on the 10× probe). In local
    # mode each round is ~0.3-0.5 s of scheduling floor, so rounds ARE the
    # cost; at cluster scale this saves one full two-shuffle pass.
    init = keyed.withColumn("label", F.col("doc_id"))
    for key in ("k1", "k2"):
        init = init.withColumn(
            "label", F.min("label").over(Window.partitionBy(key))
        )
    obs0 = Observation("cc_init")
    lbl = init.observe(obs0, F.sum("label").alias("s")).localCheckpoint(
        eager=True
    )
    prev_sum = obs0.get["s"]
    for i in range(50):
        new = lbl
        for key in ("k1", "k2"):
            new = new.withColumn(
                "label", F.min("label").over(Window.partitionBy(key))
            )
        # pointer doubling: jump straight to the label's own current label
        ptr = new.select(
            F.col("doc_id").alias("label"), F.col("label").alias("label2")
        )
        new = (
            new.join(ptr, "label", "left")
            .withColumn("label", F.least("label", "label2"))
            .drop("label2")
        )
        # The convergence probe rides the checkpoint's own materialization
        # job (Observation metrics flow through localCheckpoint) — one job
        # per round instead of checkpoint + separate agg, and in local mode
        # each job is ~0.1 s of scheduling floor, so this halves the
        # per-round cost.
        obs = Observation(f"cc_round_{i}")
        new = new.observe(obs, F.sum("label").alias("s")).localCheckpoint(
            eager=True
        )
        cur_sum = obs.get["s"]
        lbl = new
        if cur_sum == prev_sum:  # labels only decrease: unchanged sum = fixpoint
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError("connected components did not converge in 50 rounds")
    # observability for the scale probe: rounds ARE this operator's cost
    # model (O(log diameter)), so the probe records them per corpus scale
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = i + 1
    return lbl.select(
        F.col("doc_id").alias("node"), F.col("label").alias("component")
    ).orderBy("node")


DEDUP_COMPONENTS_SQL = """
WITH keyed AS (
  SELECT doc_id,
         md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS k1,
         array_to_string([CASE WHEN list_sum(list_transform(
                 list_distinct(string_split(text, ' ')),
                 x -> (((strpos('0123456789abcdef', substring(md5(x), (j % 32) + 1, 1)) - 1) >> (j // 32)) & 1) * 2 - 1
               )) > 0 THEN '1' ELSE '0' END
               for j in range(0, 64)], '') AS k2
  FROM documents
), s1 AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY k1) AS root FROM keyed
), s2 AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY k2) AS root FROM keyed
), e AS (
  SELECT doc_id AS src, root AS dst FROM s1 WHERE doc_id != root
  UNION ALL
  SELECT doc_id AS src, root AS dst FROM s2 WHERE doc_id != root
), edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)
), lbl AS (
  WITH RECURSIVE prop(node, label) AS (
    SELECT doc_id, doc_id FROM keyed
    UNION
    SELECT e.dst, p.label FROM prop p JOIN edges e ON e.src = p.node
  )
  SELECT node, label FROM prop
)
SELECT node, min(label) AS component
FROM lbl
GROUP BY node
ORDER BY node
"""


# --------------------------------------------------------------------------
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (doc_id < 50): term frequency ×
    ln(N/df), ranked on the 6-dp-rounded score with term-name tiebreak so
    the ranking is engine-independent. Two hash shuffles (doc-term counts,
    term document-frequencies) + a broadcast of the tiny df side.

    Corpus size N rides the SAME job as a broadcast 1-row aggregate
    (crossJoin ≡ scalar subquery, the q11/q22 pattern) instead of an
    eager `d.count()` — the count was a SECOND full documents scan AND a
    driver-blocking job per invocation (guide §5: no synchronous scalar
    jobs in a query path; measured 0.15-0.35 s of the entry's 1.0-1.4 s
    at sf0.1). Same value, same double division and ln, byte-identical
    scores (strict-oracle hash green)."""
    d = _docs(spark, sf_dir)
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    terms = d.select(
        "doc_id", F.explode(T.ws_tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        tf.filter(F.col("doc_id") < 50)
        .join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score", F.col("rn").cast("int").alias("rn"))
        .orderBy("doc_id", "rn")
    )


TEXT_TFIDF_SQL = """
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), dfc AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term
), scored AS (
  SELECT doc_id, term, tf, df,
         round(tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / df), 6) AS score
  FROM tf JOIN dfc USING (term)
  WHERE doc_id < 50
)
SELECT doc_id, term, tf, df, score, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rn
      FROM scored)
WHERE rn <= 3
ORDER BY doc_id, rn
"""


# --------------------------------------------------------------------------
def pipeline_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction over the event props payload: replace every digit
    run with a placeholder token and count what was redacted — the
    regex-scrub shape (emails/phones/ids) every corpus pipeline runs.
    Pure per-row regexp kernels: scan speed, no shuffle."""
    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    return ev.select(
        "event_id",
        F.regexp_replace(F.col("props"), "[0-9]+", "<NUM>").alias("redacted"),
        F.size(F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), F.lit(0))).alias(
            "n_redacted"
        ),
    ).orderBy("event_id")


PIPELINE_REDACT_SQL = """
SELECT event_id,
       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted,
       len(regexp_extract_all(props, '[0-9]+')) AS n_redacted
FROM events
ORDER BY event_id
"""


# --------------------------------------------------------------------------
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    5-gram with the held-out eval set (doc_id < 20) — the overlap check every
    LLM data pipeline runs before training.

    Scale shape: grams explode per doc, dedup per side, then ONE equi-join
    on the gram string (the eval side is tiny — thousands of grams even for
    a large benchmark suite — so Catalyst broadcasts it and the corpus side
    never shuffles); never all-pairs over documents. The gram kernel is the
    Arrow-batched variant (word_ngrams_arrow) — the full-corpus explode is
    this entry's entire cost and the batch form is a measured 12× over the
    interpreted HOF (0.5 s vs 6.1 s at sf0.1); both consume the same JVM
    split, so gram text is identical."""
    d = _docs(spark, sf_dir)
    grams = d.select(
        "doc_id",
        F.explode(
            D.word_ngrams_arrow(F.split(F.col("text"), " "), 5)
        ).alias("gram"),
    )
    ev = grams.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("eval_doc"), "gram"
    )
    train = grams.filter(F.col("doc_id") >= 20)
    return (
        train.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )


PIPELINE_DECONTAMINATE_SQL = """
WITH g AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
                 for i in range(1, greatest(len(toks)-4, 1)+1)])) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
ev AS (SELECT doc_id AS eval_doc, gram FROM g WHERE doc_id < 20)
SELECT g.doc_id,
       count(DISTINCT g.gram) AS n_shared_grams,
       count(DISTINCT eval_doc) AS n_eval_docs
FROM g JOIN ev USING (gram)
WHERE g.doc_id >= 20
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


QUERIES = {
    "pipeline_source_quota": pipeline_source_quota,
    "pipeline_hash_sample": pipeline_hash_sample,
    "pipeline_pack": pipeline_pack,
    "dedup_components": dedup_components,
    "text_tfidf": text_tfidf,
    "pipeline_redact": pipeline_redact,
    "pipeline_decontaminate": pipeline_decontaminate,
}
ORACLE = {
    "pipeline_source_quota": PIPELINE_SOURCE_QUOTA_SQL,
    "pipeline_hash_sample": PIPELINE_HASH_SAMPLE_SQL,
    "pipeline_pack": PIPELINE_PACK_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "text_tfidf": TEXT_TFIDF_SQL,
    "pipeline_redact": PIPELINE_REDACT_SQL,
    "pipeline_decontaminate": PIPELINE_DECONTAMINATE_SQL,
}
