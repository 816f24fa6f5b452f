"""Retrieval-evaluation and corpus-audit queries (split from
queries/text_llm.py in r10 — registry names unchanged): NDCG/MRR
retrieval scorecard, binary-embedding audit, OOV rate, unicode class
mix, sorted-neighborhood linkage, reciprocal-rank fusion, LSH tuning
curve, cross-source dup matrix, dedup impact/incremental pre-flight,
vocabulary growth, prefix/chunk-overlap audits, norm/label/clip
audits, n-gram coverage, source similarity, length-bucket dedup
rates, composition residuals, cluster compactness, contamination and
survivor-quality audits, per-language quantiles, token-length
histogram, sign balance, stopword coverage, dim variance, dup
families, user gini.

Same conventions as queries/__init__; shared helpers import from
queries.text_llm.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestors_spark.operators import dedup as D
from data_ingestors_spark.operators import similarity as S
from data_ingestors_spark.operators import text as X
from data_ingestors_spark.operators.baskets import basket_pairs
from data_ingestors_spark.operators.layout import spread
from data_ingestors_spark.functions.rounding import fround, o_fround
from data_ingestors_spark.queries.base import DEC, tables
from data_ingestors_spark.queries.text_llm import MAX_BROADCAST_STRATUM

QUERIES: dict = {}
ORACLES: dict = {}


# ------------------------------------------ retrieval quality metrics


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scorecard — NDCG@10, MRR@10, precision@10 of
    exact cosine retrieval where a neighbor is relevant iff it shares
    the query's class label: the evaluation loop that gates every ANN
    tier ([q_embedding_ann*]) before it replaces the exact path.

    Query set is a deterministic modulo sample whose modulus ADAPTS
    to corpus size (r9 — a fixed %50 made the query count grow with
    the corpus, turning the eval corpus-quadratic; a real retrieval
    benchmark is a FIXED query set, so the faithful scale behavior is
    corpus-linear). Same integer-exact device as [q_blocking_audit]:
    m = 50 · 10^(digits(⌈n/2000⌉) − 1), computed via string length in
    BOTH engines — no float log10 ULP hazard; at ≤2000 embedding rows
    (every driver test scale) m stays 50, so results are unchanged
    there. Per query, IDCG is computed from the query's own relevant-corpus
    count R (sequence(1, min(R,10)) exploded, gains decimal-summed on
    BOTH engines — no literal lookup table, no float repr hazard).
    Queries with R = 0 score 0 (never NULL-divided). Final row is the
    decimal-exact mean over queries.

    Plan (100 TB): brute-force scoring is the evaluation baseline by
    construction (corpus-linear per query, queries broadcast — the
    same shape as [cosine_topk_bruteforce]); the metric reduction is
    per-query rows -> |queries| rows -> 1 row, all partial-aggregable.
    """
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    mod = emb.agg(
        F.expr(
            "50 * CAST(concat('1', repeat('0', "
            "length(CAST((count(*) + 1999) DIV 2000 AS STRING)) - 1)) AS BIGINT)"
        ).alias("m")
    )
    queries = (
        emb.crossJoin(F.broadcast(mod))
        .filter(F.col("vec_id") % F.col("m") == 0)
    )
    top = S.cosine_topk_bruteforce(emb, queries, k=10)
    lab = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    qlab = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label"))
    scored = (
        top.join(F.broadcast(qlab), "query_id")
        .join(lab, "neighbor_id")
        .withColumn("rel", (F.col("n_label") == F.col("q_label")).cast("int"))
    )
    per_q = scored.groupBy("query_id").agg(
        F.sum(
            fround(F.col("rel") / F.log2(F.col("rnk") + 1), 8).cast(DEC)
        ).cast("double").alias("dcg"),
        F.max(F.when(F.col("rel") == 1, F.lit(1.0) / F.col("rnk")).otherwise(0.0)).alias("rr"),
        (F.sum("rel") / F.lit(10.0)).alias("p10"),
    )
    # R per query: relevant corpus size (same label, excluding self)
    rel_n = (
        emb.select(F.col("label").alias("q_label"), F.col("vec_id").alias("query_id"))
        .join(
            emb.groupBy(F.col("label").alias("q_label"))
            .agg(F.count("*").cast("long").alias("n_label_rows")),
            "q_label",
        )
        .crossJoin(F.broadcast(mod))
        .filter(F.col("query_id") % F.col("m") == 0)
        .select("query_id", (F.col("n_label_rows") - 1).alias("r_total"))
    )
    idcg = (
        rel_n.select(
            "query_id",
            F.explode(F.sequence(F.lit(1), F.least(F.col("r_total"), F.lit(10)))).alias("i"),
        )
        .groupBy("query_id")
        .agg(F.sum(fround(F.lit(1.0) / F.log2(F.col("i") + 1), 8).cast(DEC)).cast("double").alias("idcg"))
    )
    per_q_full = (
        per_q.join(F.broadcast(idcg), "query_id", "left")
        .withColumn(
            "ndcg",
            F.when(F.col("idcg").isNull() | (F.col("idcg") == 0), F.lit(0.0)).otherwise(
                F.col("dcg") / F.col("idcg")
            ),
        )
    )
    return per_q_full.agg(
        F.count("*").cast("long").alias("n_queries"),
        fround(F.sum(F.col("ndcg").cast(DEC)).cast("double") / F.count("*"), 6).alias("ndcg_at_10"),
        fround(F.sum(F.col("rr").cast(DEC)).cast("double") / F.count("*"), 6).alias("mrr_at_10"),
        fround(F.sum(F.col("p10").cast(DEC)).cast("double") / F.count("*"), 6).alias("p_at_10"),
    )


O_RETRIEVAL_EVAL = f"""
WITH mod AS (
  SELECT 50 * CAST('1' || repeat('0',
           length(CAST((count(*) + 1999) // 2000 AS VARCHAR)) - 1) AS BIGINT) AS m
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS q_vec, label AS q_label
      FROM embeddings, mod WHERE vec_id % mod.m = 0),
scored AS (
  SELECT q.query_id, q.q_label, c.vec_id AS neighbor_id, c.label AS n_label,
         {o_fround("list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))", 6)} AS cos_sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
top AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
  QUALIFY rnk <= 10
),
per_q AS (
  SELECT query_id,
         CAST(sum(CAST({o_fround("(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) / log2(rnk + 1)", 8)}
                       AS DECIMAL(30,10))) AS DOUBLE) AS dcg,
         max(CASE WHEN n_label = q_label THEN 1.0 / rnk ELSE 0.0 END) AS rr,
         sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) / 10.0 AS p10
  FROM top GROUP BY 1
),
rel_n AS (
  SELECT e.vec_id AS query_id, g.n_label_rows - 1 AS r_total
  FROM embeddings e
  JOIN (SELECT label, CAST(count(*) AS BIGINT) AS n_label_rows
        FROM embeddings GROUP BY 1) g ON g.label = e.label
  CROSS JOIN mod
  WHERE e.vec_id % mod.m = 0
),
idcg AS (
  SELECT query_id,
         CAST(sum(CAST({o_fround("1.0 / log2(i + 1)", 8)} AS DECIMAL(30,10))) AS DOUBLE) AS idcg
  FROM (SELECT query_id, unnest(range(1, least(r_total, 10) + 1)) AS i FROM rel_n)
  GROUP BY 1
),
per_q_full AS (
  SELECT per_q.*,
         CASE WHEN idcg.idcg IS NULL OR idcg.idcg = 0 THEN 0.0
              ELSE dcg / idcg.idcg END AS ndcg
  FROM per_q LEFT JOIN idcg USING (query_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       {o_fround("CAST(sum(CAST(ndcg AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 6)} AS ndcg_at_10,
       {o_fround("CAST(sum(CAST(rr AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 6)} AS mrr_at_10,
       {o_fround("CAST(sum(CAST(p10 AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 6)} AS p_at_10
FROM per_q_full
"""

QUERIES["retrieval_eval"] = q_retrieval_eval
ORACLES["retrieval_eval"] = O_RETRIEVAL_EVAL


def q_binary_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit sign) embedding-quantization fidelity audit: on a
    deterministic pair sample, the calibration curve of the 64-bit
    sign sketch — per true-cosine bin, the mean sign-agreement
    fraction and the mean absolute error of the LSH cosine estimate
    cos(pi*(1 - agree)) — the go/no-go table before swapping 32x
    smaller binary codes into the retrieval tier (the 1-bit sibling
    of [q_int8_quant_audit] / [q_matryoshka_audit]).

    Determinism: pair sample is two modulo strata (vec_id % 23 / %
    29, id-ordered); sign agreement is integer; cosine folds exactly
    like the proven [cosine_similarity_col] path; libm cos on
    identical doubles matches across engines; binning uses the
    ROUNDED cosine so bin edges are engine-identical.

    Plan (100 TB): both strata are tiny (n/23 x n/29 of a sampled
    audit corpus); the pair join is the broadcast of one stratum;
    everything after is row-local + one 10-key groupBy. The "sampled
    audit corpus" contract is ENFORCED: the broadcast stratum is
    counted first and anything above MAX_BROADCAST_STRATUM rows
    fails loudly (raise the modulus, not the bound)."""
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"].select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = emb.filter(F.col("vec_id") % 23 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb")
    )
    n_b = b.count()
    if n_b > MAX_BROADCAST_STRATUM:
        raise ValueError(
            f"binary_embedding_audit: broadcast stratum has {n_b} rows "
            f"(> {MAX_BROADCAST_STRATUM}); raise the sampling modulus so "
            "the audit stays a bounded pair sample instead of a corpus join"
        )
    agree = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: ((x > 0) == (y > 0)).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos_r", fround(S.cosine_similarity_col(F.col("va"), F.col("vb")), 6))
        .withColumn("sign_agree", agree / F.size("va"))
        .withColumn(
            "est_err",
            F.abs(
                F.cos(F.lit(float(__import__("math").pi)) * (1 - F.col("sign_agree")))
                - F.col("cos_r")
            ),
        )
        .withColumn(
            "bin",
            F.least(
                F.greatest(F.floor((F.col("cos_r") + 1) * 5), F.lit(0)), F.lit(9)
            ).cast("long"),
        )
    )
    return (
        pairs.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            fround(F.sum(F.col("sign_agree").cast(DEC)).cast("double") / F.count("*"), 6).alias("avg_sign_agree"),
            fround(F.sum(F.col("cos_r").cast(DEC)).cast("double") / F.count("*"), 6).alias("avg_cos"),
            fround(F.sum(F.col("est_err").cast(DEC)).cast("double") / F.count("*"), 6).alias("avg_est_err"),
        )
        .orderBy("bin")
    )


O_BINARY_EMBEDDING_AUDIT = f"""
WITH a AS (SELECT vec_id AS id_a, CAST(embedding AS DOUBLE[]) AS va
           FROM embeddings WHERE vec_id % 23 = 0),
b AS (SELECT vec_id AS id_b, CAST(embedding AS DOUBLE[]) AS vb
      FROM embeddings WHERE vec_id % 29 = 0),
pairs AS (
  SELECT id_a, id_b, va, vb,
         {o_fround("list_cosine_similarity(va, vb)", 6)} AS cos_r,
         (SELECT sum(CASE WHEN (va[i] > 0) = (vb[i] > 0) THEN 1 ELSE 0 END)
          FROM unnest(range(1, len(va) + 1)) AS t(i)) / CAST(len(va) AS DOUBLE)
           AS sign_agree
  FROM a JOIN b ON id_a < id_b
),
scored AS (
  SELECT cos_r, sign_agree,
         abs(cos(pi() * (1 - sign_agree)) - cos_r) AS est_err,
         CAST(least(greatest(floor((cos_r + 1) * 5), 0), 9) AS BIGINT) AS bin
  FROM pairs
)
SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
       {o_fround("CAST(sum(CAST(sign_agree AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 6)} AS avg_sign_agree,
       {o_fround("CAST(sum(CAST(cos_r AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 6)} AS avg_cos,
       {o_fround("CAST(sum(CAST(est_err AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 6)} AS avg_est_err
FROM scored GROUP BY 1 ORDER BY 1
"""

QUERIES["binary_embedding_audit"] = q_binary_embedding_audit
ORACLES["binary_embedding_audit"] = O_BINARY_EMBEDDING_AUDIT


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build a fixed top-1000
    vocabulary from global term frequency (ties broken by token — the
    deterministic analog of a trained tokenizer's merge list), then
    report per-source token counts, OOV tokens, and OOV rate — the
    number that decides whether a corpus slice needs tokenizer
    retraining before it wastes context on byte-fallback.

    Plan (100 TB): vocab = one word-count groupBy + top-k (TakeOrdered
    prune, no global sort); membership is a broadcast LEFT join of the
    (source, word, count) partial-agg frame — token rows never carry
    text twice. All-integer arithmetic until the final division."""
    t = tables(spark, sf_dir, "documents")
    words = t["documents"].select(
        "source",
        F.explode(F.split(D.normalize_text(F.col("text")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), "w")
        .limit(1000)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    per_sw = words.groupBy("source", "w").agg(F.count("*").cast("long").alias("n"))
    j = per_sw.join(F.broadcast(vocab), "w", "left")
    return (
        j.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.countDistinct(F.when(F.col("in_vocab").isNull(), F.col("w")))
            .cast("long")
            .alias("oov_types"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            "oov_types",
            fround(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


O_OOV_RATE = f"""
WITH words AS (
  SELECT source, w FROM (
    SELECT source,
           unnest(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
),
vocab AS (
  SELECT w, 1 AS in_vocab
  FROM (SELECT w, count(*) AS tf FROM words GROUP BY 1)
  ORDER BY tf DESC, w LIMIT 1000
),
per_sw AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY 1, 2
),
j AS (SELECT per_sw.*, vocab.in_vocab FROM per_sw LEFT JOIN vocab USING (w))
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN in_vocab IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(count(DISTINCT CASE WHEN in_vocab IS NULL THEN w END) AS BIGINT) AS oov_types,
       {o_fround("sum(CASE WHEN in_vocab IS NULL THEN n ELSE 0 END) / CAST(sum(n) AS DOUBLE)", 6)} AS oov_rate
FROM j GROUP BY 1 ORDER BY 1
"""

QUERIES["oov_rate"] = q_oov_rate
ORACLES["oov_rate"] = O_OOV_RATE


def q_unicode_class_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source — letter / digit /
    whitespace / punctuation-or-other fractions plus chars-per-row —
    the cheap mojibake-and-markup detector that runs before any
    model-based quality score ([q_byte_stats] is its byte-level
    sibling; this one is class-level).

    Plan (100 TB): ALL row-local regexp counts folded by one partial-
    aggregable groupBy; nothing explodes, nothing shuffles but the
    |sources|-row aggregate."""
    t = tables(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_letter = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    n_digit = F.length(F.regexp_replace("text", "[^0-9]", ""))
    n_space = F.length(F.regexp_replace("text", "[^ \\t\\n]", ""))
    d = t["documents"].select(
        "source",
        n_chars.alias("nc"),
        n_letter.alias("nl"),
        n_digit.alias("nd"),
        n_space.alias("ns"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nc").cast("long").alias("n_chars"),
            fround(F.sum("nl") / F.sum("nc"), 6).alias("letter_frac"),
            fround(F.sum("nd") / F.sum("nc"), 6).alias("digit_frac"),
            fround(F.sum("ns") / F.sum("nc"), 6).alias("space_frac"),
            fround(
                (F.sum("nc") - F.sum("nl") - F.sum("nd") - F.sum("ns")) / F.sum("nc"), 6
            ).alias("other_frac"),
        )
        .orderBy("source")
    )


O_UNICODE_CLASS_MIX = f"""
WITH d AS (
  SELECT source,
         length(text) AS nc,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS nl,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS nd,
         length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS ns
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       {o_fround("sum(nl) / CAST(sum(nc) AS DOUBLE)", 6)} AS letter_frac,
       {o_fround("sum(nd) / CAST(sum(nc) AS DOUBLE)", 6)} AS digit_frac,
       {o_fround("sum(ns) / CAST(sum(nc) AS DOUBLE)", 6)} AS space_frac,
       {o_fround("(sum(nc) - sum(nl) - sum(nd) - sum(ns)) / CAST(sum(nc) AS DOUBLE)", 6)} AS other_frac
FROM d GROUP BY 1 ORDER BY 1
"""

QUERIES["unicode_class_mix"] = q_unicode_class_mix
ORACLES["unicode_class_mix"] = O_UNICODE_CLASS_MIX


def q_snm_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (SNM, Hernandez-Stolfo 1995) entity
    blocking: records sorted by the match key, candidates limited to
    a sliding window of w=5 positions, verified at edit distance <=
    1 — the second classic blocker next to FastSS ([q_fuzzy_match]),
    trading FastSS's exactness guarantee for key-order locality (SNM
    misses pairs whose keys sort far apart; the window bound makes
    candidate volume exactly n*w regardless of key skew — the
    property FastSS needs a df cap for).

    Plan (100 TB): the global sort rank IS the algorithm (range-
    partition the sort at scale — ranks stay consistent across
    partition boundaries because neighbors within w cross at most one
    boundary, handled by the +w explode); candidate generation is an
    ids-only equi-join on rank, fan-out exactly w per record."""
    t = tables(spark, sf_dir, "customer")
    cust = t["customer"].select("c_custkey", "c_name")
    ranked = cust.withColumn(
        "rnk", F.row_number().over(Window.orderBy("c_name", "c_custkey"))
    )
    probes = ranked.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.explode(F.sequence(F.col("rnk") + 1, F.col("rnk") + 5)).alias("rnk"),
    )
    cand = probes.join(
        ranked.select(
            F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b"), "rnk"
        ),
        "rnk",
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 1)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


O_SNM_LINKAGE = """
WITH ranked AS (
  SELECT c_custkey, c_name,
         row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
  FROM customer
)
SELECT least(a.c_custkey, b.c_custkey) AS id_a,
       greatest(a.c_custkey, b.c_custkey) AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM ranked a JOIN ranked b
  ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 5
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""

QUERIES["snm_linkage"] = q_snm_linkage
ORACLES["snm_linkage"] = O_SNM_LINKAGE


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval
    runs — exact cosine and 1-bit sign-Hamming — per query from the
    deterministic modulo sample: RRF(d) = sum over runs of
    1/(60 + rank_d). The standard zero-training ensemble before a
    learned reranker; fused top-10 per query.

    Exactness: ranks are integer (rounded-score ordering with id
    tiebreaks), each RRF term is one exact integer division, the
    two-term sum is a fixed-order coalesce addition — bit-identical
    on both engines.

    Plan (100 TB): both runs broadcast the query set and scan the
    corpus once (the [cosine_topk_bruteforce] shape); fusion is a
    full outer join of two (query, neighbor, rank) frames capped at
    20 rows/query each. The query-sample modulus ADAPTS to corpus
    size (r9, same device and rationale as [q_retrieval_eval]: a
    fixed %50 grows the query set with the corpus and turns the
    benchmark quadratic; m = 50·10^(digits(⌈n/2000⌉)−1) keeps it a
    fixed-size benchmark set, unchanged at every ≤2000-row test
    scale)."""
    t = tables(spark, sf_dir, "embeddings")
    # spread: the corpus side of the cross join otherwise runs in
    # ONE task off the single parquet file (same lesson as
    # embedding_dim_corr)
    emb = spread(t["embeddings"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    mod = emb.agg(
        F.expr(
            "50 * CAST(concat('1', repeat('0', "
            "length(CAST((count(*) + 1999) DIV 2000 AS STRING)) - 1)) AS BIGINT)"
        ).alias("m")
    )
    q = F.broadcast(
        emb.crossJoin(F.broadcast(mod))
        .filter(F.col("vec_id") % F.col("m") == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    pairs = c.crossJoin(q).filter(F.col("neighbor_id") != F.col("query_id"))
    agree = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: ((x > 0) == (y > 0)).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        fround(S.cosine_similarity_col(F.col("qv"), F.col("cv")), 6).alias("cos_r"),
        agree.alias("ham_agree"),
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("cos_r"), "neighbor_id")
    wb = Window.partitionBy("query_id").orderBy(F.desc("ham_agree"), "neighbor_id")
    run_a = (
        scored.withColumn("rank_a", F.row_number().over(wa))
        .filter(F.col("rank_a") <= 20)
        .select("query_id", "neighbor_id", "rank_a")
    )
    run_b = (
        scored.withColumn("rank_b", F.row_number().over(wb))
        .filter(F.col("rank_b") <= 20)
        .select("query_id", "neighbor_id", "rank_b")
    )
    fused = (
        run_a.join(run_b, ["query_id", "neighbor_id"], "full_outer")
        .withColumn(
            "rrf",
            F.coalesce(F.lit(1.0) / (60 + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (60 + F.col("rank_b")), F.lit(0.0)),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "neighbor_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("fused_rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            fround(F.col("rrf"), 6).alias("rrf"),
            "fused_rank",
        )
    )


O_RRF_FUSION = f"""
WITH mod AS (
  SELECT 50 * CAST('1' || repeat('0',
           length(CAST((count(*) + 1999) // 2000 AS VARCHAR)) - 1) AS BIGINT) AS m
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings, mod WHERE vec_id % mod.m = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {o_fround("list_cosine_similarity(qv, CAST(c.embedding AS DOUBLE[]))", 6)} AS cos_r,
         (SELECT sum(CASE WHEN (qv[i] > 0) = (CAST(c.embedding AS DOUBLE[])[i] > 0)
                          THEN 1 ELSE 0 END)
          FROM unnest(range(1, len(qv) + 1)) AS t(i)) AS ham_agree
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
run_a AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rank_a
  FROM scored QUALIFY rank_a <= 20
),
run_b AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY ham_agree DESC, neighbor_id) AS rank_b
  FROM scored QUALIFY rank_b <= 20
),
fused AS (
  SELECT coalesce(run_a.query_id, run_b.query_id) AS query_id,
         coalesce(run_a.neighbor_id, run_b.neighbor_id) AS neighbor_id,
         coalesce(1.0 / (60 + rank_a), 0.0) + coalesce(1.0 / (60 + rank_b), 0.0) AS rrf
  FROM run_a FULL OUTER JOIN run_b
    ON run_a.query_id = run_b.query_id AND run_a.neighbor_id = run_b.neighbor_id
)
SELECT query_id, neighbor_id,
       {o_fround("rrf", 6)} AS rrf,
       CAST(fused_rank AS BIGINT) AS fused_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS fused_rank
  FROM fused
) WHERE fused_rank <= 10
"""

QUERIES["rrf_fusion"] = q_rrf_fusion
ORACLES["rrf_fusion"] = O_RRF_FUSION


def q_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH banding S-curve — P(candidate) = 1-(1-s^r)^b
    over a similarity grid for the (rows r x bands b) splits of a
    32-hash signature — the tuning table [minhash_near_duplicates]'s
    banding parameters are read off of (threshold ~ (1/b)^(1/r)).
    Pure engine-portable math (integer grid, pow on identical
    doubles); |grid| x |configs| rows, nothing scans the corpus —
    registered so the tuning story ships with the operator it tunes.
    """
    from data_ingestors_spark.session import tune

    tune(spark)  # contract: session tuned like every query (no scan needed)
    configs = spark.createDataFrame(
        [(2, 16), (4, 8), (8, 4), (16, 2)], "r int, b int"
    )
    grid = spark.range(1, 20).select((F.col("id") * 0.05).alias("s"))
    p = 1 - F.pow(1 - F.pow(F.col("s"), F.col("r")), F.col("b"))
    thr = F.pow(1.0 / F.col("b"), 1.0 / F.col("r"))
    return (
        grid.crossJoin(F.broadcast(configs))
        .select(
            F.col("r").cast("int").alias("r"),
            F.col("b").cast("int").alias("b"),
            fround(F.col("s"), 2).alias("s"),
            fround(p, 6).alias("p_candidate"),
            fround(thr, 6).alias("threshold_est"),
        )
        .orderBy("r", "s")
    )


O_LSH_TUNING_CURVE = f"""
WITH grid AS (SELECT i * 0.05 AS s FROM unnest(range(1, 20)) AS t(i)),
configs AS (SELECT * FROM (VALUES (2, 16), (4, 8), (8, 4), (16, 2)) AS c(r, b))
SELECT CAST(r AS INTEGER) AS r, CAST(b AS INTEGER) AS b,
       {o_fround("s", 2)} AS s,
       {o_fround("1 - pow(1 - pow(s, r), b)", 6)} AS p_candidate,
       {o_fround("pow(1.0 / b, 1.0 / r)", 6)} AS threshold_est
FROM grid CROSS JOIN configs
ORDER BY r, s
"""

QUERIES["lsh_tuning_curve"] = q_lsh_tuning_curve
ORACLES["lsh_tuning_curve"] = O_LSH_TUNING_CURVE


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplicate matrix: for every ordered source
    pair, how many canonical fingerprints appear in BOTH — the number
    that decides which feeds are mirrors of each other and in which
    direction to drop ([q_dedup_family_stats] sizes families; this
    locates them across feeds).

    Plan (100 TB): collapse to the distinct (fingerprint, source)
    frame FIRST (partial-aggregable), self-join on fingerprint only —
    the join fan-out is per-fingerprint source-set squared, bounded by
    the source count, never by document count; text never shuffles."""
    t = tables(spark, sf_dir, "documents")
    fps = (
        X.fingerprint(t["documents"], "text", "doc_id")
        .join(t["documents"].select("doc_id", "source"), "doc_id")
        .select("fp_md5", "source")
        .distinct()
    )
    # uncapped: a fingerprint's basket is bounded by the source count
    return (
        basket_pairs(fps, "fp_md5", "source")
        .select(
            F.col("item_a").alias("source_a"),
            F.col("item_b").alias("source_b"),
            F.col("n_both").alias("n_shared_fps"),
        )
        .orderBy("source_a", "source_b")
    )


O_CROSS_SOURCE_DUPS = """
WITH fps AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5,
         source
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_fps
FROM fps a JOIN fps b ON a.fp_md5 = b.fp_md5 AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES["cross_source_dups"] = q_cross_source_dups
ORACLES["cross_source_dups"] = O_CROSS_SOURCE_DUPS


def q_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup impact: if exact-duplicate families collapse
    to one survivor each, how many documents / characters does each
    source shed — the budget table that justifies (or kills) a dedup
    pass per feed ([q_dedup_family_stats] is the global histogram;
    this allocates the savings).

    Survivor rule matches [q_dedup_canonical]: one row per
    fingerprint survives GLOBALLY; a source's loss is its rows minus
    its survivors (a family spanning sources keeps its single
    survivor in the max_by-chosen source).

    Plan (100 TB): drops are attributed INSIDE the family
    aggregation — a partial-aggregable (fp, source) groupBy collapses
    the corpus to per-source family partials (counts, char sums, and
    the source's best (nc, -doc_id) candidate), a second groupBy
    picks each family's winning source, and the two aggregated
    frames join on fp_md5. Nothing corpus-sized is ever broadcast
    or joined back to the documents table; text shuffles never, ids
    and counts only."""
    t = tables(spark, sf_dir, "documents")
    # fingerprint computed INLINE (same md5-of-normalized-text as
    # operators/text.py:fingerprint) — joining the corpus to its own
    # fingerprint frame on doc_id would add a full extra shuffle
    d = t["documents"].select(
        "doc_id",
        "source",
        F.length("text").alias("nc"),
        F.md5(D.normalize_text(F.col("text"))).alias("fp_md5"),
    )
    # Per-(family, source) partials. `best` is the source's top
    # survivor candidate under the global rule max(nc, -doc_id);
    # doc_id uniqueness makes the struct key unique, so every max /
    # max_by below is deterministic.
    per_src = d.groupBy("fp_md5", "source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("nc").cast("long").alias("chars"),
        F.max(
            F.struct(F.col("nc"), (-F.col("doc_id")).alias("negid"))
        ).alias("best"),
    )
    # Per-family winner: the source holding the global survivor, plus
    # that survivor's char count (needed to net it out of the winning
    # source's dropped chars).
    win = per_src.groupBy("fp_md5").agg(
        F.max_by(
            F.struct(
                F.col("source").alias("wsrc"),
                F.col("best").getField("nc").alias("wnc"),
            ),
            F.col("best"),
        ).alias("w")
    )
    j = per_src.join(win, "fp_md5")
    drop_n = F.when(
        F.col("source") == F.col("w.wsrc"), F.col("n") - F.lit(1)
    ).otherwise(F.col("n"))
    drop_chars = F.when(
        F.col("source") == F.col("w.wsrc"), F.col("chars") - F.col("w.wnc")
    ).otherwise(F.col("chars"))
    return (
        j.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum(drop_n).cast("long").alias("n_dropped"),
            F.sum("chars").cast("long").alias("n_chars"),
            F.sum(drop_chars).cast("long").alias("chars_dropped"),
            fround(F.sum(drop_chars) / F.sum("chars"), 6).alias(
                "char_drop_frac"
            ),
        )
        .orderBy("source")
    )


O_DEDUP_IMPACT_REPORT = f"""
WITH d AS (
  SELECT doc_id, source, length(text) AS nc,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5
  FROM documents
),
surv AS (
  SELECT fp_md5, doc_id AS keep_id
  FROM (SELECT fp_md5, doc_id,
               row_number() OVER (PARTITION BY fp_md5
                                  ORDER BY nc DESC, doc_id) AS rnk
        FROM d)
  WHERE rnk = 1
),
flagged AS (
  SELECT d.*, s.keep
  FROM d LEFT JOIN (SELECT keep_id AS doc_id, 1 AS keep FROM surv) s USING (doc_id)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       CAST(sum(CASE WHEN keep IS NULL THEN nc ELSE 0 END) AS BIGINT) AS chars_dropped,
       {o_fround("sum(CASE WHEN keep IS NULL THEN nc ELSE 0 END) / CAST(sum(nc) AS DOUBLE)", 6)} AS char_drop_frac
FROM flagged GROUP BY 1 ORDER BY 1
"""

QUERIES["dedup_impact_report"] = q_dedup_impact_report
ORACLES["dedup_impact_report"] = O_DEDUP_IMPACT_REPORT


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup impact: per source, what would ingesting a
    NEW batch (the deterministic doc_id % 10 == 0 slice) add to an
    already-deduped corpus (the % 10 != 0 slice) — exact-dup-vs-corpus
    count, in-batch-dup count, novel survivors, and novel character
    mass. The pre-flight report a pipeline runs before committing a
    feed ([q_dedup_impact_report] is its whole-corpus retrospective
    sibling; the operator twin
    operators/dedup.py:incremental_dedup_report computes THIS report
    against a bucketed fingerprint index reading only the batch's
    touched buckets — equality of the two paths is test-asserted).

    Survivor rule among batch-only families: (max nc, min doc_id) —
    same as [q_dedup_canonical]; attribution is family-side (per-
    (fp, source) partials + winner join), nothing corpus-sized ever
    broadcasts.

    Plan (100 TB): one distinct over corpus fingerprints (ids only),
    one fp-keyed left join for the corpus flag, two partial-aggregable
    groupBys + one fp-keyed aggregated join for the family split."""
    t = tables(spark, sf_dir, "documents")
    d = t["documents"].select(
        "doc_id",
        "source",
        F.length("text").alias("nc"),
        F.md5(D.normalize_text(F.col("text"))).alias("fp_md5"),
    )
    corpus = (
        d.filter(F.col("doc_id") % 10 != 0)
        .select("fp_md5")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    b = d.filter(F.col("doc_id") % 10 == 0)
    flag = b.join(corpus, "fp_md5", "left")
    tot = flag.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("in_corpus").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_corpus"),
        F.sum("nc").cast("long").alias("n_chars"),
    )
    new = flag.filter(F.col("in_corpus").isNull())
    per_src = new.groupBy("fp_md5", "source").agg(
        F.count("*").cast("long").alias("n"),
        F.max(F.struct(F.col("nc"), (-F.col("doc_id")).alias("negid"))).alias("best"),
    )
    win = per_src.groupBy("fp_md5").agg(
        F.max_by(
            F.struct(
                F.col("source").alias("wsrc"),
                F.col("best").getField("nc").alias("wnc"),
            ),
            F.col("best"),
        ).alias("w")
    )
    is_w = F.col("source") == F.col("w.wsrc")
    fam = (
        per_src.join(win, "fp_md5")
        .groupBy("source")
        .agg(
            F.sum(F.when(is_w, 1).otherwise(0)).cast("long").alias("n_novel"),
            F.sum(F.col("n") - F.when(is_w, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_batch"),
            F.sum(F.when(is_w, F.col("w.wnc")).otherwise(0))
            .cast("long")
            .alias("chars_novel"),
        )
    )
    return (
        tot.join(fam, "source", "left")
        .fillna(0, subset=["n_novel", "n_dup_batch", "chars_novel"])
        .select(
            "source",
            "n_docs",
            "n_dup_corpus",
            "n_dup_batch",
            "n_novel",
            "n_chars",
            "chars_novel",
            fround(F.col("n_novel") / F.col("n_docs"), 6).alias("novel_frac"),
        )
        .orderBy("source")
    )


O_INCREMENTAL_DEDUP = f"""
WITH d AS (
  SELECT doc_id, source, length(text) AS nc,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5
  FROM documents
),
corpus AS (SELECT DISTINCT fp_md5 FROM d WHERE doc_id % 10 <> 0),
b AS (SELECT * FROM d WHERE doc_id % 10 = 0),
flag AS (
  SELECT b.*, (c.fp_md5 IS NOT NULL) AS in_corpus
  FROM b LEFT JOIN corpus c USING (fp_md5)
),
tot AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN in_corpus THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
         CAST(sum(nc) AS BIGINT) AS n_chars
  FROM flag GROUP BY 1
),
new AS (SELECT * FROM flag WHERE NOT in_corpus),
fam2 AS (
  SELECT source,
         CAST(count(*) FILTER (WHERE is_surv) AS BIGINT) AS n_novel,
         CAST(count(*) FILTER (WHERE NOT is_surv) AS BIGINT) AS n_dup_batch,
         CAST(sum(CASE WHEN is_surv THEN nc ELSE 0 END) AS BIGINT) AS chars_novel
  FROM (
    SELECT n.source, n.nc,
           row_number() OVER (PARTITION BY n.fp_md5
                              ORDER BY n.nc DESC, n.doc_id) = 1 AS is_surv
    FROM new n
  )
  GROUP BY 1
)
SELECT t.source, t.n_docs, t.n_dup_corpus,
       coalesce(f.n_dup_batch, 0) AS n_dup_batch,
       coalesce(f.n_novel, 0) AS n_novel,
       t.n_chars,
       coalesce(f.chars_novel, 0) AS chars_novel,
       {o_fround("coalesce(f.n_novel, 0) / CAST(t.n_docs AS DOUBLE)", 6)} AS novel_frac
FROM tot t LEFT JOIN fam2 f USING (source)
ORDER BY t.source
"""

QUERIES["incremental_dedup"] = q_incremental_dedup
ORACLES["incremental_dedup"] = O_INCREMENTAL_DEDUP


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative token count and
    cumulative distinct vocabulary at ten doc-id checkpoints, plus the
    ln V / ln N ratio — the saturation diagnostic that tells a corpus
    curator whether more of the same feed still adds new vocabulary
    (flat curve = diminishing returns, pair with [q_doc_novelty]).

    Determinism: checkpoints are integer fractions of max doc_id;
    'first seen' is min doc_id per word — no ordering ambiguity.

    Plan (100 TB): the token explosion collapses immediately into TWO
    bounded frames — per-doc token counts (|docs| rows) and per-word
    first-seen (|vocab| rows); each cross-joins the broadcast 10-row
    checkpoint grid and partial-aggregates. The corpus is scanned
    once; nothing doc- or vocab-sized shuffles more than once."""
    t = tables(spark, sf_dir, "documents")
    words = t["documents"].select(
        "doc_id",
        F.explode(F.split(D.normalize_text(F.col("text")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    per_doc = words.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_tok"))
    first_seen = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    mx = t["documents"].agg(F.max("doc_id").alias("max_doc"))
    grid = (
        spark.range(1, 11)
        .select(F.col("id").cast("int").alias("decile"))
        .crossJoin(F.broadcast(mx))
        .select(
            "decile",
            F.floor(F.col("max_doc") * F.col("decile") / 10).alias("cutoff"),
        )
    )
    toks = (
        per_doc.crossJoin(F.broadcast(grid))
        .filter(F.col("doc_id") <= F.col("cutoff"))
        .groupBy("decile")
        .agg(F.sum("n_tok").cast("long").alias("cum_tokens"))
    )
    vocab = (
        first_seen.crossJoin(F.broadcast(grid))
        .filter(F.col("first_doc") <= F.col("cutoff"))
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("cum_vocab"))
    )
    return (
        toks.join(vocab, "decile")
        .select(
            "decile",
            "cum_tokens",
            "cum_vocab",
            fround(F.log("cum_vocab") / F.log("cum_tokens"), 6).alias("heaps_ratio"),
        )
        .orderBy("decile")
    )


O_VOCAB_GROWTH = f"""
WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
),
per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM words GROUP BY 1),
first_seen AS (SELECT w, min(doc_id) AS first_doc FROM words GROUP BY 1),
grid AS (
  SELECT CAST(d AS INTEGER) AS decile,
         CAST(floor((SELECT max(doc_id) FROM documents) * d / 10.0) AS BIGINT) AS cutoff
  FROM unnest(range(1, 11)) AS t(d)
),
toks AS (
  SELECT decile, CAST(sum(n_tok) AS BIGINT) AS cum_tokens
  FROM per_doc CROSS JOIN grid WHERE doc_id <= cutoff GROUP BY 1
),
vocab AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS cum_vocab
  FROM first_seen CROSS JOIN grid WHERE first_doc <= cutoff GROUP BY 1
)
SELECT decile, cum_tokens, cum_vocab,
       {o_fround("ln(cum_vocab) / ln(cum_tokens)", 6)} AS heaps_ratio
FROM toks JOIN vocab USING (decile)
ORDER BY decile
"""

QUERIES["vocab_growth"] = q_vocab_growth
ORACLES["vocab_growth"] = O_VOCAB_GROWTH


def q_duplicate_prefix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix duplication histogram: documents grouped by their
    first 40 normalized characters, reported as family-size bands —
    the cheapest template/boilerplate detector (mirror sites and
    form-letter feeds share openings long before full fingerprints
    match; [q_dup_span_stats] is the exact-substring deep scan).

    Plan (100 TB): ONE groupBy on a 40-char key (fixed-width, ids
    never carried), then a |distinct sizes|-row histogram groupBy.
    Nothing joins; the prefix is computed in codegen."""
    t = tables(spark, sf_dir, "documents")
    fam = (
        t["documents"]
        .select(
            F.substring(D.normalize_text(F.col("text")), 1, 40).alias("pfx")
        )
        .groupBy("pfx")
        .agg(F.count("*").cast("long").alias("fam_size"))
    )
    return (
        fam.groupBy("fam_size")
        .agg(F.count("*").cast("long").alias("n_families"))
        .select(
            "fam_size",
            "n_families",
            (F.col("fam_size") * F.col("n_families")).cast("long").alias("n_docs"),
            (F.when(F.col("fam_size") > 1, (F.col("fam_size") - 1) * F.col("n_families"))
             .otherwise(0)).cast("long").alias("n_redundant"),
        )
        .orderBy("fam_size")
    )


O_DUPLICATE_PREFIX_AUDIT = """
WITH fam AS (
  SELECT substr(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), 1, 40) AS pfx,
         CAST(count(*) AS BIGINT) AS fam_size
  FROM documents GROUP BY 1
)
SELECT fam_size,
       CAST(count(*) AS BIGINT) AS n_families,
       CAST(fam_size * count(*) AS BIGINT) AS n_docs,
       CAST(CASE WHEN fam_size > 1 THEN (fam_size - 1) * count(*) ELSE 0 END AS BIGINT) AS n_redundant
FROM fam GROUP BY 1 ORDER BY 1
"""

QUERIES["duplicate_prefix_audit"] = q_duplicate_prefix_audit
ORACLES["duplicate_prefix_audit"] = O_DUPLICATE_PREFIX_AUDIT


def q_chunk_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking cost audit: with 200-char chunks on a
    150-char stride (the RAG-standard overlap), how much character
    mass does each source DUPLICATE into its chunk store — the
    storage/compute multiplier to budget before re-embedding a corpus
    ([q_chunk_documents] materializes chunks; this prices them).

    Per doc: n_chunks = 1 if nc <= 200 else ceil((nc-200)/150)+1;
    chunk chars = sum_i min(200, nc - 150*i) — exact integer
    arithmetic, identical in both engines.

    Plan (100 TB): the chunk-start enumeration is a row-local
    sequence fold (<= nc/150 elements, no explode survives the
    projection); one partial-aggregable groupBy per source."""
    t = tables(spark, sf_dir, "documents")
    size, stride = 200, 150
    nc = F.col("n_chars")
    n_chunks = F.when(nc <= size, F.lit(1)).otherwise(
        F.ceil((nc - size) / F.lit(stride)) + 1
    )
    chunk_chars = F.aggregate(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        F.lit(0).cast("long"),
        lambda acc, i: acc + F.least(F.lit(size).cast("long"), nc - i * stride),
    )
    per_doc = t["documents"].select(
        "source",
        nc.alias("nc"),
        n_chunks.cast("long").alias("n_chunks"),
        chunk_chars.alias("chunk_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.sum("nc").cast("long").alias("n_chars"),
            F.sum("chunk_chars").cast("long").alias("chunk_chars"),
            fround(
                (F.sum("chunk_chars") - F.sum("nc")) / F.sum("nc"), 6
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


O_CHUNK_OVERLAP_AUDIT = f"""
WITH per_doc AS (
  SELECT source, n_chars AS nc,
         CASE WHEN n_chars <= 200 THEN 1
              ELSE CAST(ceil((n_chars - 200) / 150.0) AS BIGINT) + 1 END AS n_chunks
  FROM documents
),
chunks AS (
  SELECT source, nc, n_chunks,
         (SELECT sum(least(200, nc - 150 * i))
          FROM unnest(range(0, n_chunks)) AS t(i)) AS chunk_chars
  FROM per_doc
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       CAST(sum(chunk_chars) AS BIGINT) AS chunk_chars,
       {o_fround("(sum(chunk_chars) - sum(nc)) / CAST(sum(nc) AS DOUBLE)", 6)} AS dup_ratio
FROM chunks GROUP BY 1 ORDER BY 1
"""

QUERIES["chunk_overlap_audit"] = q_chunk_overlap_audit
ORACLES["chunk_overlap_audit"] = O_CHUNK_OVERLAP_AUDIT


def q_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-norm hygiene audit per label: L2 norm min / mean / max
    plus the count outside [0.9, 1.1] — the 30-second check that an
    embedding column is (or is not) unit-normalized before anyone
    trusts cosine == dot shortcuts downstream.

    Norms fold with the proven sequential-double pattern
    ([cosine_similarity_col]'s _norm — matches DuckDB list math);
    aggregates are decimal-exact.

    Plan (100 TB): one row-local norm per vector, one
    partial-aggregable groupBy per label. Nothing joins."""
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"].select(
        F.col("label").cast("long").alias("label"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    d = emb.select("label", fround(norm, 6).alias("nrm"))
    return (
        d.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            fround(F.min("nrm"), 6).alias("min_norm"),
            fround(F.sum(F.col("nrm").cast(DEC)).cast("double") / F.count("*"), 6).alias("avg_norm"),
            fround(F.max("nrm"), 6).alias("max_norm"),
            F.sum(F.when((F.col("nrm") < 0.9) | (F.col("nrm") > 1.1), 1).otherwise(0))
            .cast("long")
            .alias("n_outside_band"),
        )
        .orderBy("label")
    )


O_EMBEDDING_NORM_AUDIT = f"""
WITH d AS (
  SELECT CAST(label AS BIGINT) AS label,
         {o_fround("sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))", 6)} AS nrm
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       {o_fround("min(nrm)", 6)} AS min_norm,
       {o_fround("CAST(sum(CAST(nrm AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 6)} AS avg_norm,
       {o_fround("max(nrm)", 6)} AS max_norm,
       CAST(sum(CASE WHEN nrm < 0.9 OR nrm > 1.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_outside_band
FROM d GROUP BY 1 ORDER BY 1
"""

QUERIES["embedding_norm_audit"] = q_embedding_norm_audit
ORACLES["embedding_norm_audit"] = O_EMBEDDING_NORM_AUDIT


def q_label_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit of the embedding table's labels: per label
    the count, corpus share, and imbalance ratio vs the largest class
    — the first table anyone prints before training a classifier
    ([q_info_gain_screen] asks if the features carry signal; this
    asks if the labels are usable at all).

    Plan (100 TB): one |labels|-row count groupBy; the max joins back
    as a 1-row broadcast. Nothing else."""
    t = tables(spark, sf_dir, "embeddings")
    per = t["embeddings"].groupBy("label").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.max("n").cast("long").alias("n_max"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n",
            fround(F.col("n") / F.col("n_total"), 6).alias("share"),
            fround(F.col("n_max") / F.col("n"), 6).alias("imbalance_vs_max"),
        )
        .orderBy("label")
    )


O_LABEL_BALANCE_AUDIT = f"""
WITH per AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, CAST(max(n) AS BIGINT) AS n_max FROM per)
SELECT label, n,
       {o_fround("n / CAST(n_total AS DOUBLE)", 6)} AS share,
       {o_fround("n_max / CAST(n AS DOUBLE)", 6)} AS imbalance_vs_max
FROM per CROSS JOIN tot ORDER BY label
"""

QUERIES["label_balance_audit"] = q_label_balance_audit
ORACLES["label_balance_audit"] = O_LABEL_BALANCE_AUDIT


def q_embedding_quantile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile calibration table for clipped int8
    quantization: p01 / p50 / p99 of every embedding dimension plus
    the symmetric clip scale max(|p01|, |p99|) — the table
    [q_int8_quant_audit] assumes exists; this builds it (outlier-
    robust scales beat min/max by ignoring the 1% tails).

    quantile_cont == F.percentile on identical doubles (proven
    portable in key_skew_audit and grouped_quantiles).

    Plan (100 TB): the posexplode collapses straight into a 64-key
    percentile groupBy — map-side combined, one shuffle of digest-
    sized partials, 64 output rows."""
    t = tables(spark, sf_dir, "embeddings")
    dims = t["embeddings"].select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    p01, p50, p99 = (
        F.percentile("v", F.lit(0.01)),
        F.percentile("v", F.lit(0.5)),
        F.percentile("v", F.lit(0.99)),
    )
    return (
        dims.groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            fround(p01, 6).alias("p01"),
            fround(p50, 6).alias("p50"),
            fround(p99, 6).alias("p99"),
            fround(F.greatest(F.abs(p01), F.abs(p99)), 6).alias("clip_scale"),
        )
        .select(F.col("dim").cast("int").alias("dim"), "n", "p01", "p50", "p99", "clip_scale")
        .orderBy("dim")
    )


O_EMBEDDING_QUANTILE_CLIP = f"""
WITH dims AS (
  SELECT d.dim, CAST(embedding[d.dim + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) d
)
SELECT CAST(dim AS INTEGER) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       {o_fround("quantile_cont(v, 0.01)", 6)} AS p01,
       {o_fround("quantile_cont(v, 0.5)", 6)} AS p50,
       {o_fround("quantile_cont(v, 0.99)", 6)} AS p99,
       {o_fround("greatest(abs(quantile_cont(v, 0.01)), abs(quantile_cont(v, 0.99)))", 6)} AS clip_scale
FROM dims GROUP BY dim ORDER BY dim
"""

QUERIES["embedding_quantile_clip"] = q_embedding_quantile_clip
ORACLES["embedding_quantile_clip"] = O_EMBEDDING_QUANTILE_CLIP


def q_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram head-coverage curve: the cumulative share of all bigram
    occurrences covered by the top-10/30/100/300/1000 bigrams — the
    'how templated is this corpus' diagnostic ([q_zipf_fit] fits
    unigrams; template spam shows up as a bigram head that covers
    everything).

    Ranking is fully tiebroken (count desc, then the bigram text), so
    the cumulative sums are engine-identical integers.

    Plan (100 TB): bigrams collapse into ONE count groupBy (|vocab|²
    bounded); the curve is a window cumsum over that aggregated frame
    — at most |vocab|² rows ever sort, never the corpus."""
    t = tables(spark, sf_dir, "documents")
    # materialize the token array ONCE per doc — inlining the
    # split/filter into every element_at makes the transform O(len²)
    # per document (measured 11.2 s -> ~1 s at sf0.1)
    toks = t["documents"].select(
        F.filter(
            F.split(D.normalize_text(F.col("text")), " "), lambda x: x != ""
        ).alias("ws")
    )
    ws = F.col("ws")
    bg = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(ws) - 1, F.lit(0)),
                    ),
                    lambda i: F.concat_ws(
                        " ", F.element_at(ws, i), F.element_at(ws, i + 1)
                    ),
                )
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("bg"))
    tot = bg.agg(F.sum("c").cast("long").alias("n_total"))
    ranked = (
        bg.withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "cum_c",
            F.sum(F.col("c").cast(DEC)).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        )
        .filter(F.col("rnk").isin(10, 30, 100, 300, 1000))
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.col("rnk").cast("int").alias("top_k"),
            F.col("cum_c").alias("cum_occurrences"),
            "n_total",
            fround(F.col("cum_c") / F.col("n_total"), 6).alias("coverage"),
        )
        .orderBy("top_k")
    )


O_NGRAM_COVERAGE_CURVE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x <> '') AS ws
  FROM documents
),
base AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS bg
  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM toks)
),
bg AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM bg),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, bg) AS rnk,
         CAST(sum(CAST(c AS DECIMAL(30,10))) OVER (ORDER BY c DESC, bg
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
  FROM bg
)
SELECT CAST(rnk AS INTEGER) AS top_k, cum_c AS cum_occurrences, n_total,
       {o_fround("cum_c / CAST(n_total AS DOUBLE)", 6)} AS coverage
FROM ranked CROSS JOIN tot
WHERE rnk IN (10, 30, 100, 300, 1000)
ORDER BY top_k
"""

QUERIES["ngram_coverage_curve"] = q_ngram_coverage_curve
ORACLES["ngram_coverage_curve"] = O_NGRAM_COVERAGE_CURVE


def q_source_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair vocabulary-profile cosine: each source as its
    unigram count vector, all pairwise cosines — the corpus-mixing
    dashboard that shows which feeds are near-clones of each other
    ([q_vocab_overlap] counts shared types; this weighs them).

    Exactness: dot products and norms fold integer counts in decimal;
    the final cosine is one double expression.

    Plan (100 TB): the corpus collapses to a (source, word) count
    frame (|sources| x |vocab| bounded); the pair join is that frame
    against itself on the WORD key (each word contributes its
    sources² cells — |sources| is a config-sized dimension, so the
    fan-out is bounded); norms are a |sources|-row frame broadcast
    onto |sources|² rows."""
    t = tables(spark, sf_dir, "documents")
    sw = (
        t["documents"]
        .select(
            "source",
            F.explode(F.split(D.normalize_text(F.col("text")), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    a = sw.select(F.col("source").alias("source_a"), "w", F.col("c").alias("ca"))
    b = sw.select(F.col("source").alias("source_b"), "w", F.col("c").alias("cb"))
    dots = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum((F.col("ca") * F.col("cb")).cast(DEC)).cast("double").alias("dot"))
    )
    norms = sw.groupBy("source").agg(
        F.sqrt(F.sum((F.col("c") * F.col("c")).cast(DEC)).cast("double")).alias("nrm")
    )
    return (
        dots.join(
            F.broadcast(norms.select(F.col("source").alias("source_a"), F.col("nrm").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(norms.select(F.col("source").alias("source_b"), F.col("nrm").alias("nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            fround(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .orderBy("source_a", "source_b")
    )


O_SOURCE_SIMILARITY_MATRIX = f"""
WITH sw AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT source,
           unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
  GROUP BY 1, 2
),
dots AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(sum(CAST(a.c * b.c AS DECIMAL(30,10))) AS DOUBLE) AS dot
  FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
),
norms AS (
  SELECT source, sqrt(CAST(sum(CAST(c * c AS DECIMAL(30,10))) AS DOUBLE)) AS nrm
  FROM sw GROUP BY 1
)
SELECT source_a, source_b,
       {o_fround("dot / (na.nrm * nb.nrm)", 6)} AS cosine
FROM dots
JOIN norms na ON na.source = source_a
JOIN norms nb ON nb.source = source_b
ORDER BY source_a, source_b
"""

QUERIES["source_similarity_matrix"] = q_source_similarity_matrix
ORACLES["source_similarity_matrix"] = O_SOURCE_SIMILARITY_MATRIX


def q_length_bucket_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup rate by document-length bucket (powers of two): are the
    duplicates concentrated in short boilerplate or long mirrored
    pages? The slicing that decides WHERE a dedup pass pays for
    itself ([q_dedup_impact_report] slices by source; this slices by
    length).

    Survivor rule is the global (max nc, min doc_id) — identical to
    the impact report — and the non-survivor flag attributes inside
    the family aggregation (per-(fp, bucket) partials + winner join),
    so nothing corpus-sized broadcasts.

    Plan (100 TB): one fingerprint groupBy family split, one
    log2-bucket projection, two bounded aggregated joins."""
    t = tables(spark, sf_dir, "documents")
    d = t["documents"].select(
        "doc_id",
        F.length("text").alias("nc"),
        F.md5(D.normalize_text(F.col("text"))).alias("fp_md5"),
    ).withColumn(
        "bucket", F.floor(F.log2(F.greatest(F.col("nc"), F.lit(1)))).cast("int")
    )
    per_b = d.groupBy("fp_md5", "bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.max(F.struct(F.col("nc"), (-F.col("doc_id")).alias("negid"))).alias("best"),
    )
    win = per_b.groupBy("fp_md5").agg(
        F.max_by(F.col("bucket"), F.col("best")).alias("wbucket")
    )
    is_w = F.col("bucket") == F.col("wbucket")
    return (
        per_b.join(win, "fp_md5")
        .groupBy("bucket")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum(F.col("n") - F.when(is_w, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_dropped",
            fround(F.col("n_dropped") / F.col("n_docs"), 6).alias("dup_rate"),
        )
        .orderBy("bucket")
    )


O_LENGTH_BUCKET_DEDUP_RATE = f"""
WITH d AS (
  SELECT doc_id, length(text) AS nc,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5,
         CAST(floor(log2(greatest(length(text), 1))) AS INTEGER) AS bucket
  FROM documents
),
flagged AS (
  SELECT bucket,
         row_number() OVER (PARTITION BY fp_md5 ORDER BY nc DESC, doc_id) = 1 AS is_surv
  FROM d
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE NOT is_surv) AS BIGINT) AS n_dropped,
       {o_fround("count(*) FILTER (WHERE NOT is_surv) / CAST(count(*) AS DOUBLE)", 6)} AS dup_rate
FROM flagged GROUP BY 1 ORDER BY 1
"""

QUERIES["length_bucket_dedup_rate"] = q_length_bucket_dedup_rate
ORACLES["length_bucket_dedup_rate"] = O_LENGTH_BUCKET_DEDUP_RATE


def q_mix_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition residuals: per (lang, source) cell the
    observed count vs the independence expectation N·p_lang·p_source,
    with the standardized Pearson residual (obs − exp)/√exp — the
    cell-level drill-down under [q_mutual_information]'s single
    dependence number (|residual| > 2 marks the cells skewing the
    mix).

    Exactness: expectations are products of exact integer marginals
    over one N; residuals are single double expressions.

    Plan (100 TB): one (lang, source) count groupBy; both marginals
    derive FROM that |cells|-frame (no second corpus scan); marginal
    joins are |langs|- and |sources|-row broadcasts."""
    t = tables(spark, sf_dir, "documents")
    cells = t["documents"].groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("obs")
    )
    ml = cells.groupBy("lang").agg(F.sum("obs").cast("long").alias("n_lang"))
    ms = cells.groupBy("source").agg(F.sum("obs").cast("long").alias("n_source"))
    n = cells.agg(F.sum("obs").cast("long").alias("n_total"))
    exp = F.col("n_lang") * F.col("n_source") / F.col("n_total")
    return (
        cells.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "obs",
            fround(exp, 4).alias("expected"),
            fround((F.col("obs") - exp) / F.sqrt(exp), 6).alias("std_residual"),
        )
        .orderBy("lang", "source")
    )


O_MIX_RESIDUALS = f"""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
  FROM documents GROUP BY 1, 2
),
ml AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS n_lang FROM cells GROUP BY 1),
ms AS (SELECT source, CAST(sum(obs) AS BIGINT) AS n_source FROM cells GROUP BY 1),
n AS (SELECT CAST(sum(obs) AS BIGINT) AS n_total FROM cells)
SELECT lang, source, obs,
       {o_fround("n_lang * n_source / CAST(n_total AS DOUBLE)", 4)} AS expected,
       {o_fround("(obs - n_lang * n_source / CAST(n_total AS DOUBLE)) / sqrt(n_lang * n_source / CAST(n_total AS DOUBLE))", 6)} AS std_residual
FROM cells JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN n
ORDER BY lang, source
"""

QUERIES["mix_residuals"] = q_mix_residuals
ORACLES["mix_residuals"] = O_MIX_RESIDUALS


def q_cluster_compactness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-cluster compactness/separation audit over the embedding
    table: per label the mean and max Euclidean distance to its own
    centroid, the nearest OTHER centroid, and the separation margin
    (nearest-centroid gap / mean radius — a silhouette-style score
    from exact arithmetic) — the 'are these labels even clusters'
    check before anyone trusts [q_knn_label_noise]'s votes.

    Exactness: centroids are decimal-exact per-dimension means;
    distances fold per-dim squares in decimal; the nearest-other
    choice uses the ROUNDED distance with a label tiebreak.

    Plan (100 TB): centroids via one (label, dim) posexplode groupBy
    (|labels| x 64 rows, broadcast back); per-vector distances join
    vectors to their OWN label's centroid array (|labels|-row
    broadcast); centroid-pair distances are a |labels|²-row job."""
    t = tables(spark, sf_dir, "embeddings")
    dims = t["embeddings"].select(
        "vec_id", "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    cent = dims.groupBy("label", "dim").agg(
        (F.sum(F.col("v").cast(DEC)).cast("double") / F.count("*")).alias("c")
    )
    # per-vector squared distance to own centroid (decimal fold)
    own = (
        dims.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum(((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).cast(DEC))
                .cast("double")
            ).alias("dist")
        )
    )
    radius = own.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        (F.sum(F.col("dist").cast(DEC)).cast("double") / F.count("*")).alias("mean_r_raw"),
        F.max("dist").alias("max_r_raw"),
    )
    # centroid pairwise distances
    ca = cent.select(F.col("label").alias("la"), "dim", F.col("c").alias("va"))
    cb = cent.select(F.col("label").alias("lb"), "dim", F.col("c").alias("vb"))
    cd = (
        ca.join(cb, "dim")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.sum(((F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb"))).cast(DEC))
                .cast("double")
            ).alias("cdist")
        )
    )
    wnear = Window.partitionBy("la").orderBy(
        fround(F.col("cdist"), 6).asc(), F.col("lb").asc()
    )
    nearest = (
        cd.withColumn("rn", F.row_number().over(wnear))
        .filter(F.col("rn") == 1)
        .select(F.col("la").alias("label"), F.col("lb").alias("nearest_label"), "cdist")
    )
    return (
        radius.join(nearest, "label")
        .select(
            "label",
            "n",
            fround(F.col("mean_r_raw"), 6).alias("mean_radius"),
            fround(F.col("max_r_raw"), 6).alias("max_radius"),
            "nearest_label",
            fround(F.col("cdist"), 6).alias("nearest_centroid_dist"),
            fround(F.col("cdist") / F.col("mean_r_raw"), 6).alias("separation"),
        )
        .orderBy("label")
    )


O_CLUSTER_COMPACTNESS = f"""
WITH dims AS (
  SELECT vec_id, label, d.dim AS dim, CAST(embedding[d.dim + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) d
),
cent AS (
  SELECT label, dim,
         CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS c
  FROM dims GROUP BY 1, 2
),
own AS (
  SELECT vec_id, d.label,
         sqrt(CAST(sum(CAST((v - c) * (v - c) AS DECIMAL(30,10))) AS DOUBLE)) AS dist
  FROM dims d JOIN cent USING (label, dim)
  GROUP BY 1, 2
),
radius AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(dist AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS mean_r_raw,
         max(dist) AS max_r_raw
  FROM own GROUP BY 1
),
cd AS (
  SELECT a.label AS la, b.label AS lb,
         sqrt(CAST(sum(CAST((a.c - b.c) * (a.c - b.c) AS DECIMAL(30,10))) AS DOUBLE)) AS cdist
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
  GROUP BY 1, 2
),
nearest AS (
  SELECT la AS label, lb AS nearest_label, cdist
  FROM (SELECT la, lb, cdist,
               row_number() OVER (PARTITION BY la
                                  ORDER BY {o_fround("cdist", 6)} ASC, lb ASC) AS rn
        FROM cd)
  WHERE rn = 1
)
SELECT r.label, n,
       {o_fround("mean_r_raw", 6)} AS mean_radius,
       {o_fround("max_r_raw", 6)} AS max_radius,
       nearest_label,
       {o_fround("cdist", 6)} AS nearest_centroid_dist,
       {o_fround("cdist / mean_r_raw", 6)} AS separation
FROM radius r JOIN nearest USING (label)
ORDER BY r.label
"""

QUERIES["cluster_compactness"] = q_cluster_compactness
ORACLES["cluster_compactness"] = O_CLUSTER_COMPACTNESS


def q_cross_lang_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix contamination screen: per source, its majority
    language (by doc count, ties to the smaller code), how many docs
    deviate from it, and the contamination rate — the routing check
    before per-language corpora are carved out of multi-feed ingest
    ([q_mix_residuals] scores the whole matrix; this names each
    feed's outliers).

    Plan (100 TB): one (source, lang) count groupBy; the majority
    pick is a row_number over the |cells|-row aggregated frame; one
    final |sources|-row aggregate."""
    t = tables(spark, sf_dir, "documents")
    cells = t["documents"].groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    maj = (
        cells.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("majority_lang"))
    )
    return (
        cells.join(maj, "source")
        .groupBy("source", "majority_lang")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("lang") != F.col("majority_lang"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_off_lang"),
        )
        .select(
            "source",
            "majority_lang",
            "n_docs",
            "n_off_lang",
            fround(F.col("n_off_lang") / F.col("n_docs"), 6).alias("contamination"),
        )
        .orderBy("source")
    )


O_CROSS_LANG_CONTAMINATION = f"""
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
maj AS (
  SELECT source, lang AS majority_lang
  FROM (SELECT source, lang, n,
               row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rn
        FROM cells)
  WHERE rn = 1
)
SELECT source, majority_lang,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN lang <> majority_lang THEN n ELSE 0 END) AS BIGINT) AS n_off_lang,
       {o_fround("sum(CASE WHEN lang <> majority_lang THEN n ELSE 0 END) / CAST(sum(n) AS DOUBLE)", 6)} AS contamination
FROM cells JOIN maj USING (source)
GROUP BY 1, 2 ORDER BY 1
"""

QUERIES["cross_lang_contamination"] = q_cross_lang_contamination
ORACLES["cross_lang_contamination"] = O_CROSS_LANG_CONTAMINATION


def q_dedup_survivor_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the dedup survivor rule keep the GOOD copy? Mean quality
    score (the [q_quality_score] 0-5 tier) of survivors vs dropped
    duplicates, per family-size band — the sanity check on the
    (max nc, min doc_id) rule before it deletes petabytes
    ([q_dedup_impact_report] counts what drops; this scores it).

    Plan (100 TB): quality is a row-local projection; the family
    split is one fingerprint window (same shuffle the dedup pass
    already pays); one banded aggregate ends it. Nothing joins."""
    t = tables(spark, sf_dir, "documents")
    q = X.quality_score(t["documents"], "text", "doc_id")
    d = t["documents"].select(
        "doc_id",
        F.length("text").alias("nc"),
        F.md5(D.normalize_text(F.col("text"))).alias("fp_md5"),
    ).join(q, "doc_id")
    wf = Window.partitionBy("fp_md5")
    wr = Window.partitionBy("fp_md5").orderBy(F.desc("nc"), F.asc("doc_id"))
    fam = d.select(
        "quality",
        F.count("*").over(wf).alias("fam_size"),
        (F.row_number().over(wr) == 1).alias("is_surv"),
    ).filter(F.col("fam_size") > 1)
    band = F.when(F.col("fam_size") >= 5, F.lit("5+")).otherwise(
        F.col("fam_size").cast("string")
    )
    return (
        fam.groupBy(band.alias("family_size"))
        .agg(
            F.sum(F.when(F.col("is_surv"), 1).otherwise(0)).cast("long").alias("n_survivors"),
            F.sum(F.when(~F.col("is_surv"), 1).otherwise(0)).cast("long").alias("n_dropped"),
            fround(
                F.sum(F.when(F.col("is_surv"), F.col("quality")).otherwise(0).cast(DEC)).cast("double")
                / F.sum(F.when(F.col("is_surv"), 1).otherwise(0)),
                6,
            ).alias("avg_quality_kept"),
            fround(
                F.sum(F.when(~F.col("is_surv"), F.col("quality")).otherwise(0).cast(DEC)).cast("double")
                / F.sum(F.when(~F.col("is_surv"), 1).otherwise(0)),
                6,
            ).alias("avg_quality_dropped"),
        )
        .orderBy("family_size")
    )


O_DEDUP_SURVIVOR_QUALITY = f"""
WITH stats AS (
  SELECT doc_id,
         length(text) AS nc,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5,
         (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1 ELSE 0 END
          + CASE WHEN len(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) >= 20 THEN 1 ELSE 0 END
          + CASE WHEN length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) / CAST(length(text) AS DOUBLE) <= 0.10 THEN 1 ELSE 0 END
          + CASE WHEN length(regexp_replace(text, '[^0-9]', '', 'g')) / CAST(length(text) AS DOUBLE) <= 0.20 THEN 1 ELSE 0 END
          + CASE WHEN length(text) / CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS DOUBLE) BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END
         ) AS quality
  FROM documents
),
fam AS (
  SELECT quality,
         count(*) OVER (PARTITION BY fp_md5) AS fam_size,
         row_number() OVER (PARTITION BY fp_md5 ORDER BY nc DESC, doc_id) = 1 AS is_surv
  FROM stats
)
SELECT CASE WHEN fam_size >= 5 THEN '5+' ELSE CAST(fam_size AS VARCHAR) END AS family_size,
       CAST(count(*) FILTER (WHERE is_surv) AS BIGINT) AS n_survivors,
       CAST(count(*) FILTER (WHERE NOT is_surv) AS BIGINT) AS n_dropped,
       {o_fround("CAST(sum(CASE WHEN is_surv THEN CAST(quality AS DECIMAL(30,10)) ELSE 0 END) AS DOUBLE) / count(*) FILTER (WHERE is_surv)", 6)} AS avg_quality_kept,
       {o_fround("CAST(sum(CASE WHEN NOT is_surv THEN CAST(quality AS DECIMAL(30,10)) ELSE 0 END) AS DOUBLE) / count(*) FILTER (WHERE NOT is_surv)", 6)} AS avg_quality_dropped
FROM fam WHERE fam_size > 1
GROUP BY 1 ORDER BY 1
"""

QUERIES["dedup_survivor_quality"] = q_dedup_survivor_quality
ORACLES["dedup_survivor_quality"] = O_DEDUP_SURVIVOR_QUALITY


def q_lang_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language document-length quantiles (p25/p50/p75/p95)
    plus count and decimal-exact mean — the length profile that sets
    per-language chunking and truncation budgets (the ORACLE-PAIRED
    exact sibling of the digest-based [grouped_quantiles]).

    percentile(array) == quantile_cont per element on identical
    integer inputs (proven portable).

    Plan (100 TB): ONE groupBy with a single array-quantile buffer
    per language (no global sort, no window)."""
    t = tables(spark, sf_dir, "documents")
    qs = F.percentile(
        "n_chars", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95))
    )
    return (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            fround(
                F.sum(F.col("n_chars").cast(DEC)).cast("double") / F.count("*"), 4
            ).alias("mean_chars"),
            qs.alias("qs"),
        )
        .select(
            "lang",
            "n_docs",
            "mean_chars",
            fround(F.col("qs")[0], 4).alias("p25"),
            fround(F.col("qs")[1], 4).alias("p50"),
            fround(F.col("qs")[2], 4).alias("p75"),
            fround(F.col("qs")[3], 4).alias("p95"),
        )
        .orderBy("lang")
    )


O_LANG_LENGTH_QUANTILES = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       {o_fround("CAST(sum(CAST(n_chars AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 4)} AS mean_chars,
       {o_fround("quantile_cont(n_chars, 0.25)", 4)} AS p25,
       {o_fround("quantile_cont(n_chars, 0.5)", 4)} AS p50,
       {o_fround("quantile_cont(n_chars, 0.75)", 4)} AS p75,
       {o_fround("quantile_cont(n_chars, 0.95)", 4)} AS p95
FROM documents GROUP BY 1 ORDER BY 1
"""

QUERIES["lang_length_quantiles"] = q_lang_length_quantiles
ORACLES["lang_length_quantiles"] = O_LANG_LENGTH_QUANTILES


def q_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-length histogram over the whole corpus: per character
    length, token occurrences, distinct types, and the occurrence
    share — the sizing table behind byte-vs-word tokenizer budgets
    ([q_token_fertility] measures a specific tokenizer; this profiles
    the raw text it must cover).

    Plan (100 TB): the explode collapses into one (length) count
    groupBy carrying a distinct-type conditional; the 1-row total
    broadcasts. Bounded by max word length."""
    t = tables(spark, sf_dir, "documents")
    words = t["documents"].select(
        F.explode(F.split(D.normalize_text(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    per = words.groupBy(F.length("w").alias("wlen")).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("w").cast("long").alias("n_types"),
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("n_all"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("wlen").cast("int").alias("wlen"),
            "n_tokens",
            "n_types",
            fround(F.col("n_tokens") / F.col("n_all"), 6).alias("token_share"),
        )
        .orderBy("wlen")
    )


O_TOKEN_LENGTH_HISTOGRAM = f"""
WITH words AS (
  SELECT w FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
),
per AS (
  SELECT length(w) AS wlen,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT w) AS BIGINT) AS n_types
  FROM words GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_all FROM per)
SELECT CAST(wlen AS INTEGER) AS wlen, n_tokens, n_types,
       {o_fround("n_tokens / CAST(n_all AS DOUBLE)", 6)} AS token_share
FROM per CROSS JOIN tot ORDER BY wlen
"""

QUERIES["token_length_histogram"] = q_token_length_histogram
ORACLES["token_length_histogram"] = O_TOKEN_LENGTH_HISTOGRAM


def q_embedding_sign_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension sign balance of the embedding table: the
    positive fraction and its deviation from 1/2 for every dimension
    — the bias audit that decides whether the 1-bit sign sketch
    ([q_binary_embedding_audit]) can work at all (a dimension that is
    90% positive carries almost no sign information).

    Plan (100 TB): posexplode straight into a 64-key conditional
    count groupBy — one scan, one bounded shuffle."""
    t = tables(spark, sf_dir, "embeddings")
    dims = t["embeddings"].select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return (
        dims.groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("v") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n",
            "n_pos",
            fround(F.col("n_pos") / F.col("n"), 6).alias("pos_frac"),
            fround(F.abs(F.col("n_pos") / F.col("n") - 0.5), 6).alias("bias"),
        )
        .orderBy("dim")
    )


O_EMBEDDING_SIGN_BALANCE = f"""
WITH dims AS (
  SELECT d.dim, CAST(embedding[d.dim + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) d
)
SELECT CAST(dim AS INTEGER) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       {o_fround("sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 6)} AS pos_frac,
       {o_fround("abs(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) - 0.5)", 6)} AS bias
FROM dims GROUP BY dim ORDER BY dim
"""

QUERIES["embedding_sign_balance"] = q_embedding_sign_balance
ORACLES["embedding_sign_balance"] = O_EMBEDDING_SIGN_BALANCE


def q_stopword_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword coverage per source: the share of tokens taken by the
    corpus's own df-top-5 words — the head-end complement to
    [q_oov_rate]'s tail (machine-generated feeds skew BOTH ends, and
    a source whose stopword share diverges from the corpus norm reads
    differently downstream).

    The stopword list is data-derived (top-5 by global count, ties to
    the word) — deterministic, no external lexicon.

    Plan (100 TB): one word-count groupBy + top-5 (TakeOrdered), one
    (source, word) partial-agg frame joined to the 5-row broadcast."""
    t = tables(spark, sf_dir, "documents")
    words = t["documents"].select(
        "source",
        F.explode(F.split(D.normalize_text(F.col("text")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    stop = (
        words.groupBy("w")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), "w")
        .limit(5)
        .select("w", F.lit(1).alias("is_stop"))
    )
    per = words.groupBy("source", "w").agg(F.count("*").cast("long").alias("n"))
    return (
        per.join(F.broadcast(stop), "w", "left")
        .groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("is_stop").isNotNull(), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_stop"),
        )
        .select(
            "source",
            "n_tokens",
            "n_stop",
            fround(F.col("n_stop") / F.col("n_tokens"), 6).alias("stop_share"),
        )
        .orderBy("source")
    )


O_STOPWORD_COVERAGE = f"""
WITH words AS (
  SELECT source, w FROM (
    SELECT source,
           unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
),
stop AS (
  SELECT w, 1 AS is_stop
  FROM (SELECT w, count(*) AS tf FROM words GROUP BY 1)
  ORDER BY tf DESC, w LIMIT 5
),
per AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY 1, 2
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN is_stop IS NOT NULL THEN n ELSE 0 END) AS BIGINT) AS n_stop,
       {o_fround("sum(CASE WHEN is_stop IS NOT NULL THEN n ELSE 0 END) / CAST(sum(n) AS DOUBLE)", 6)} AS stop_share
FROM per LEFT JOIN stop USING (w)
GROUP BY 1 ORDER BY 1
"""

QUERIES["stopword_coverage"] = q_stopword_coverage
ORACLES["stopword_coverage"] = O_STOPWORD_COVERAGE


def q_embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance ranking of the embedding table: sample
    variance (decimal co-moments) and the dead-dimension flag
    (variance < 1e-6) for all 64 dims, ranked most-informative first
    — the PCA-free feature triage next to [q_embedding_sign_balance]
    and [q_info_gain_screen] ([q_matryoshka_audit] asks the same of
    PREFIXES; this asks it per dimension).

    Plan (100 TB): posexplode into one 64-key co-moment groupBy;
    the rank is a window over 64 rows."""
    t = tables(spark, sf_dir, "embeddings")
    dims = t["embeddings"].select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    per = dims.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("v").cast(DEC)).alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast(DEC)).alias("s2"),
    )
    n = F.col("n").cast("double")
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / n) / (n - 1)
    scored = per.select(
        F.col("dim").cast("int").alias("dim"),
        fround(var, 6).alias("variance"),
        (fround(var, 6) < 1e-6).alias("is_dead"),
    )
    w = Window.orderBy(F.desc("variance"), F.asc("dim"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).orderBy("dim")


O_EMBEDDING_DIM_VARIANCE = f"""
WITH dims AS (
  SELECT d.dim, CAST(embedding[d.dim + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) d
),
per AS (
  SELECT dim,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE) AS s1,
         CAST(sum(CAST(v * v AS DECIMAL(30,10))) AS DOUBLE) AS s2
  FROM dims GROUP BY 1
),
scored AS (
  SELECT CAST(dim AS INTEGER) AS dim,
         {o_fround("(s2 - s1 * s1 / n) / (n - 1)", 6)} AS variance,
         {o_fround("(s2 - s1 * s1 / n) / (n - 1)", 6)} < 1e-6 AS is_dead
  FROM per
)
SELECT dim, variance, is_dead,
       CAST(row_number() OVER (ORDER BY variance DESC, dim) AS INTEGER) AS rank
FROM scored ORDER BY dim
"""

QUERIES["embedding_dim_variance"] = q_embedding_dim_variance
ORACLES["embedding_dim_variance"] = O_EMBEDDING_DIM_VARIANCE


def q_cross_lang_dup_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language duplicate families: exact-fingerprint families
    grouped by how many distinct languages they span — the
    mislabeled-language / copy-paste detector ([q_cross_source_dups]
    slices families by feed; this slices by language, where >1 lang
    on IDENTICAL text means the lang tag, not the text, is wrong).

    Plan (100 TB): one (fp) groupBy carrying a distinct-lang count,
    one histogram groupBy over the aggregated frame."""
    t = tables(spark, sf_dir, "documents")
    fam = (
        t["documents"]
        .select(
            F.md5(D.normalize_text(F.col("text"))).alias("fp_md5"),
            "lang",
        )
        .groupBy("fp_md5")
        .agg(
            F.count("*").cast("long").alias("fam_size"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .filter(F.col("fam_size") > 1)
    )
    return (
        fam.groupBy("n_langs")
        .agg(
            F.count("*").cast("long").alias("n_families"),
            F.sum("fam_size").cast("long").alias("n_docs"),
            F.max("fam_size").alias("max_family"),
        )
        .orderBy("n_langs")
    )


O_CROSS_LANG_DUP_FAMILIES = """
WITH fam AS (
  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5,
         CAST(count(*) AS BIGINT) AS fam_size,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM documents GROUP BY 1
  HAVING count(*) > 1
)
SELECT n_langs,
       CAST(count(*) AS BIGINT) AS n_families,
       CAST(sum(fam_size) AS BIGINT) AS n_docs,
       CAST(max(fam_size) AS BIGINT) AS max_family
FROM fam GROUP BY 1 ORDER BY 1
"""

QUERIES["cross_lang_dup_families"] = q_cross_lang_dup_families
ORACLES["cross_lang_dup_families"] = O_CROSS_LANG_DUP_FAMILIES
