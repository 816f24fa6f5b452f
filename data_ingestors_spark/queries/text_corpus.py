"""Corpus-quality and embedding-audit queries (split from
queries/text_llm.py in r10 — registry names unchanged): containment
join, CCNet perplexity buckets, DSIR importance weights, document
novelty, embedding outlier/dimension/quantization audits, language-ID
evaluation, tokenizer fertility, dedup economics, Cohen's kappa,
blocking-quality audit, prefix-filter similarity join, kNN label
noise, character-entropy filtering.

Same conventions as queries/__init__ (aliased columns, DEC sums,
fround rounding, unique tiebreaks); shared helpers import from
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
from data_ingestors_spark.operators.layout import spread
from data_ingestors_spark.operators.pairs import candidate_pairs
from data_ingestors_spark.functions.rounding import fround, o_fround
from data_ingestors_spark.queries.base import DEC, tables
from data_ingestors_spark.queries.text_llm import (
    O_BIGRAM_LOGPROB,
    _H_DE,
    _H_EN,
    _H_ES,
    _H_FR,
    _queries_subset,
    q_bigram_logprob,
)

QUERIES: dict = {}
ORACLES: dict = {}


_CONTAIN_QUERIES = {
    1: ("data", "scan"),
    2: ("hash", "join", "merge"),
    3: ("stream", "batch", "filter", "row"),
}


def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-containment join: which documents contain ALL terms of each
    query term-set — the multi-term filter behind boolean retrieval
    and tag-subset matching.

    Plan: the inverted-index form — explode each doc's DISTINCT words
    once, broadcast-join the (tiny) term table, and a doc matches a
    query iff its per-query hit count equals the query's term count.
    The naive form (array_contains AND array_contains ...) re-scans
    every doc's array per query; this form touches each (doc, word)
    pair once regardless of query count and partial-aggregates the
    hit counts.
    """
    t = tables(spark, sf_dir, "documents")
    terms = spark.createDataFrame(
        [(qid, w) for qid, ws in _CONTAIN_QUERIES.items() for w in ws],
        "qid int, w string",
    )
    qlen = spark.createDataFrame(
        [(qid, len(ws)) for qid, ws in _CONTAIN_QUERIES.items()], "qid int, n_terms int"
    )
    words = (
        t["documents"]
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.split(
                        F.trim(
                            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
                        ),
                        " ",
                    )
                )
            ).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    hits = (
        words.join(F.broadcast(terms), "w")
        .groupBy("doc_id", "qid")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        hits.join(F.broadcast(qlen), "qid")
        .filter(F.col("n_hit") == F.col("n_terms"))
        .select(F.col("qid").cast("long").alias("qid"), "doc_id")
    )


def _o_containment_sql() -> str:
    term_rows = ", ".join(
        f"({qid}, '{w}')" for qid, ws in _CONTAIN_QUERIES.items() for w in ws
    )
    len_rows = ", ".join(f"({qid}, {len(ws)})" for qid, ws in _CONTAIN_QUERIES.items())
    return f"""
WITH terms(qid, w) AS (VALUES {term_rows}),
qlen(qid, n_terms) AS (VALUES {len_rows}),
words AS (
  SELECT DISTINCT doc_id, w
  FROM (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
), hits AS (
  SELECT doc_id, qid, count(*) AS n_hit
  FROM words JOIN terms USING (w) GROUP BY doc_id, qid
)
SELECT CAST(hits.qid AS BIGINT) AS qid, doc_id
FROM hits JOIN qlen ON hits.qid = qlen.qid
WHERE n_hit = n_terms
"""


QUERIES["containment_join"] = q_containment_join
ORACLES["containment_join"] = _o_containment_sql()


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020):
    within each source, rank documents by LM score (bits per bigram,
    [bigram_logprob]) and split into head/middle/tail terciles — the
    published recipe for stratifying a crawl by language-model fit
    before choosing what to train on.

    Plan: the LM scoring reuses the bigram model (groupBys + broadcast
    scalars); the tercile is ONE ntile window per source over the
    scored frame (doc-count rows, ordered by the rounded score with a
    doc_id tiebreak so the split is engine-deterministic)."""
    scored = q_bigram_logprob(spark, sf_dir)
    t = tables(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("bits_per_bigram", "doc_id")
    return (
        scored.join(t["documents"].select("doc_id", "source"), "doc_id")
        .withColumn("ppl_bucket", F.ntile(3).over(w).cast("long"))
        .select("doc_id", "source", "bits_per_bigram", "ppl_bucket")
    )


O_CCNET_BUCKETS = f"""
WITH scored AS ({O_BIGRAM_LOGPROB})
SELECT scored.doc_id, d.source, scored.bits_per_bigram,
       CAST(ntile(3) OVER (PARTITION BY d.source
                           ORDER BY scored.bits_per_bigram, scored.doc_id) AS BIGINT)
         AS ppl_bucket
FROM scored JOIN documents d ON scored.doc_id = d.doc_id
"""

QUERIES["ccnet_buckets"] = q_ccnet_buckets
ORACLES["ccnet_buckets"] = O_CCNET_BUCKETS


# ------------------------------------------ DSIR importance weights

_DSIR_B = 512  # hashed-feature buckets


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    public paper): per-document importance log-weight for steering a
    multilingual pool toward an English target, using hashed unigram
    features — log p_target(doc) - log p_pool(doc) under two
    bag-of-buckets unigram models with add-one smoothing. High weight
    = doc looks like the target distribution; sampling ∝ exp(weight)
    is the DSIR recipe. Target model: docs with lang='en'; pool: all.

    Plan (100 TB): the two bucket models are map-side-combined
    groupBys over a bounded key space (B=512 buckets — the POINT of
    hashed features is that model size is corpus-independent); the
    per-word bucket lookup table (B rows, with both log-probs folded
    in) broadcasts onto the token stream, and the per-doc weight is
    one more combiner-friendly groupBy. Document text shuffles only
    doc_id + bucket ints. md5-bucket hashing is bit-identical in both
    engines (conv(substr(md5,1,4),16,10) == CAST('0x'||hex AS BIGINT)).
    """
    t = tables(spark, sf_dir, "documents")
    words = t["documents"].select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(
                F.split(
                    F.trim(
                        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
                    ),
                    " ",
                ),
                lambda w: w != "",
            )
        ).alias("w"),
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("long")
        % F.lit(_DSIR_B),
    )
    tc = (
        words.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").alias("tc"))
    )
    pc = words.groupBy("b").agg(F.count("*").alias("pc"))
    tot = words.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tt"),
        F.count("*").alias("pt"),
    )
    lut = (
        pc.join(tc, "b", "left")
        .na.fill({"tc": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log((F.col("tc") + 1) / (F.col("tt") + _DSIR_B))
                - F.log((F.col("pc") + 1) / (F.col("pt") + _DSIR_B))
            ).alias("term"),
        )
    )
    return (
        words.join(F.broadcast(lut), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            fround(F.sum(F.col("term").cast(DEC)).cast("double"), 4).alias(
                "dsir_logw"
            ),
        )
    )


O_DSIR_WEIGHTS = f"""
WITH words AS (
  SELECT doc_id, lang,
         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
  FROM documents
), toks AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(w), 1, 4)) AS BIGINT) % {_DSIR_B} AS b
  FROM words WHERE w <> ''
), tc AS (
  SELECT b, count(*) AS tc FROM toks WHERE lang = 'en' GROUP BY 1
), pc AS (
  SELECT b, count(*) AS pc FROM toks GROUP BY 1
), tot AS (
  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt, count(*) AS pt FROM toks
), lut AS (
  SELECT pc.b,
         ln((coalesce(tc.tc, 0) + 1) / (tt + {_DSIR_B}.0))
           - ln((pc.pc + 1) / (pt + {_DSIR_B}.0)) AS term
  FROM pc LEFT JOIN tc ON pc.b = tc.b CROSS JOIN tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       {o_fround("CAST(sum(CAST(term AS DECIMAL(30,10))) AS DOUBLE)", 4)} AS dsir_logw
FROM toks JOIN lut USING (b)
GROUP BY doc_id
"""

QUERIES["dsir_weights"] = q_dsir_weights
ORACLES["dsir_weights"] = O_DSIR_WEIGHTS


# ------------------------------------------ cross-document novelty

def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's DISTINCT word
    5-gram shingles that appear in no other document. Low novelty =
    boilerplate assembled from shared spans (the doc-level view of
    what [dup_span_stats] measures span-level); high novelty = unique
    content worth keeping through dedup.

    Plan (100 TB): shingles are hashed to 60-bit ints BEFORE the
    distinct/groupBy (winnowing's trick), so every shuffle carries
    (doc_id, long) — never the 5-word strings. Document frequency per
    shingle is a map-side-combined count over the deduped
    (doc_id, shingle) frame; the join back is shingle-keyed, ids-only.
    md5-hashing is bit-identical across engines, so a collision (if
    one ever happens) is the SAME collision on both sides.
    """
    t = tables(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")),
            " ",
        ),
        lambda w: w != "",
    )
    from data_ingestors_spark.operators.dedup import let_bound

    # ws is let-bound (split once per row, not once per shingle) and
    # per-doc duplicates drop ROW-LOCALLY via array_distinct — no
    # corpus-wide .distinct() shuffle, since (doc_id, sh) dedup only
    # needs within-row uniqueness here (14.6 s -> ~4 s at sf0.1)
    shingles = t["documents"].select(
        "doc_id",
        F.explode(
            let_bound(
                ws,
                # sequence(1, 0) DESCENDS in Spark, so short docs must
                # short-circuit to an empty array, not a 0-stop sequence
                lambda wv: F.when(
                    F.size(wv) < 5, F.array().cast("array<bigint>")
                ).otherwise(
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), F.size(wv) - 4),
                            lambda i: F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(" ", F.slice(wv, i, 5))
                                    ),
                                    1,
                                    15,
                                ),
                                16,
                                10,
                            ).cast("long"),
                        )
                    )
                ),
            )
        ).alias("sh"),
    )
    # r12-opt (guide §2.4): shingles feeds df_counts AND the join-back
    # — unpersisted, the md5-per-shingle Generate pass compiled twice
    # (2 documents scans in plans/r12/doc_novelty_before.txt; the
    # second copy even column-pruned doc_id away, so no ReuseExchange
    # could fire). The (long, long) rows are token-count-sized;
    # persist (memory-and-disk) trades one spillable cache for the
    # second full hash pass.
    from data_ingestors_spark.operators.dedup import _materialize

    shingles = _materialize(shingles)
    # (doc_id, sh) rows are unique by construction (array_distinct
    # upstream), so plain count == distinct-doc count without the
    # per-key hashset a countDistinct would carry through the shuffle
    df_counts = shingles.groupBy("sh").agg(F.count("*").alias("df"))
    return (
        shingles.join(df_counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            fround(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
    )


O_DOC_NOVELTY = f"""
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS ws
  FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, sh
  FROM (
    SELECT doc_id,
           unnest([CAST(('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15)) AS BIGINT)
                   FOR i IN range(1, greatest(len(ws) - 4, 0) + 1)]) AS sh
    FROM ws
  )
), dfreq AS (
  SELECT sh, count(DISTINCT doc_id) AS df FROM shingles GROUP BY 1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       {o_fround("CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS novelty
FROM shingles JOIN dfreq USING (sh)
GROUP BY doc_id
"""

QUERIES["doc_novelty"] = q_doc_novelty
ORACLES["doc_novelty"] = O_DOC_NOVELTY


# ------------------------------------------ embedding outlier audit

def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding outliers by diagonal Mahalanobis distance
    (per-dimension z-scores, summed squared): the cheap corpus-health
    scan that surfaces corrupt / out-of-distribution vectors before
    they poison ANN index training or dedup thresholds.

    Plan (100 TB): per-dimension mean/variance come from ONE
    posexplode + map-side-combined groupBy over a 64-key space (the
    dimension count — data-size-independent); the 64-row stats frame
    broadcasts back onto a second posexplode pass and the per-vector
    score is a combiner-friendly groupBy. Top-20 is TakeOrdered — no
    global sort. All sums fold in decimal (float inputs widen to
    double exactly, so both engines fold identical values).
    """
    t = tables(spark, sf_dir, "embeddings")
    dims = t["embeddings"].select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    stats = (
        dims.groupBy("pos")
        .agg(
            F.sum(F.col("val").cast(DEC)).alias("_s"),
            F.sum((F.col("val") * F.col("val")).cast(DEC)).alias("_s2"),
            F.count("*").alias("_n"),
        )
        .select(
            "pos",
            (F.col("_s").cast("double") / F.col("_n")).alias("mu"),
            F.sqrt(
                F.col("_s2").cast("double") / F.col("_n")
                - F.pow(F.col("_s").cast("double") / F.col("_n"), 2)
            ).alias("sigma"),
        )
    )
    scored = (
        dims.join(F.broadcast(stats), "pos")
        .groupBy("vec_id")
        .agg(
            fround(
                F.sum(
                    F.pow((F.col("val") - F.col("mu")) / F.col("sigma"), 2).cast(
                        DEC
                    )
                ).cast("double"),
                4,
            ).alias("mahal_sq")
        )
    )
    return scored.orderBy(F.desc("mahal_sq"), F.asc("vec_id")).limit(20)


O_EMBEDDING_OUTLIERS = f"""
WITH dims AS (
  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, array_length(embedding) + 1)) AS t(i)
), stats AS (
  SELECT pos,
         CAST(sum(CAST(val AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS mu,
         sqrt(CAST(sum(CAST(val * val AS DECIMAL(30,10))) AS DOUBLE) / count(*)
              - pow(CAST(sum(CAST(val AS DECIMAL(30,10))) AS DOUBLE) / count(*), 2)) AS sigma
  FROM dims GROUP BY 1
), scored AS (
  SELECT vec_id,
         {o_fround("CAST(sum(CAST(pow((val - mu) / sigma, 2) AS DECIMAL(30,10))) AS DOUBLE)", 4)} AS mahal_sq
  FROM dims JOIN stats USING (pos)
  GROUP BY vec_id
)
SELECT vec_id, mahal_sq FROM scored
ORDER BY mahal_sq DESC, vec_id ASC
LIMIT 20
"""

QUERIES["embedding_outliers"] = q_embedding_outliers
ORACLES["embedding_outliers"] = O_EMBEDDING_OUTLIERS


# ------------------------------------------ hard-negative mining

def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: for each query vector, the
    top-5 most cosine-similar vectors carrying a DIFFERENT label —
    near-duplicates in embedding space that the label says are not the
    same thing. These pairs are exactly what a contrastive / reranker
    fine-tune needs (highest-loss negatives), and what a labeling
    audit flags as probable mislabels.

    Plan (100 TB): same shape as [embedding_topk] — the fixed query
    set (with labels) broadcasts, the corpus streams through one
    scan; the label inequality prunes before scoring. Top-5 is a
    per-query window over rounded sims with id tiebreak.
    """
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    q = F.broadcast(
        _queries_subset(emb).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            F.col("label").alias("q_label"),
        )
    )
    scored = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
            F.col("label").alias("c_label"),
        )
        .crossJoin(q)
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("c_label") != F.col("q_label"))
        )
        .select(
            "query_id",
            "neighbor_id",
            F.col("c_label").cast("int").alias("neg_label"),
            fround(
                S.cosine_similarity_col(F.col("q_vec"), F.col("c_vec")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= 5
    )


O_HARD_NEGATIVES = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec, label AS q_label
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, CAST(c.label AS INT) AS neg_label,
         {o_fround("list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))", 6)} AS cos_sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id AND c.label <> q.q_label
)
SELECT query_id, neighbor_id, neg_label, cos_sim, rnk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= 5
"""

QUERIES["hard_negatives"] = q_hard_negatives
ORACLES["hard_negatives"] = O_HARD_NEGATIVES


# ------------------------------------------ dimension correlation audit


def _flat_vectors(rb, dim: int):
    """(n_rows, dim) float64 matrix from an Arrow ``list<double>``
    column, failing LOUDLY on null or ragged vectors: ``flatten()``
    silently DROPS null list slots, so a single null row would misalign
    every subsequent row — a wrong-results class, not a crash
    (VERDICT r12 #8 hardening). Embeddings are non-null fixed-dim by
    construction; this guard keeps that assumption enforced."""
    vals = rb.column(0).flatten().to_numpy(zero_copy_only=False)
    n = rb.num_rows
    if vals.size != n * dim:
        raise ValueError(
            f"embedding_dim_corr: expected {n} vectors x dim {dim} "
            f"= {n * dim} values in the Arrow batch, got {vals.size} — "
            "null or ragged embedding vectors are not supported"
        )
    return np.ascontiguousarray(vals).reshape(-1, dim)


def q_embedding_dim_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-correlated embedding dimension pairs (Pearson, by
    |corr|): strongly coupled dimensions mean the embedding wastes
    capacity and PQ/IVF subspace splits should not separate them —
    the audit that informs product-quantization codebook layout.

    Plan (100 TB): NO self-join — Σx and Σx² per dimension come from
    one posexplode + 64-key groupBy, and the cross terms Σx_iy_j come
    from a ROW-LOCAL pair emission (each vector emits its C(64,2)
    products, already keyed) feeding a map-side-combined groupBy over
    the 2016-pair key space. The earlier dims⋈dims-on-vec_id form
    shuffled the exploded frame twice and materialized rows×4096 join
    output (measured 48 s at sf0.1); r9: the products come from an
    Arrow-batched numpy fancy-indexed multiply (float64 x·y is the
    identical IEEE op the interpreted lambda ran, so the decimal
    sums and the oracle hash are unchanged) and the input is
    spread — together 6.4 s → 2.3 s at sf0.1. Per-dim stats
    broadcast onto the 2016-row pair frame. (A full XᵀX GEMM would
    shave more but loses the per-pair decimal-fold exactness the
    oracle hash needs.) Corr derives from the sums in identical
    double math on both engines.
    """
    t = tables(spark, sf_dir, "embeddings")
    # spread: the single-parquet-file table otherwise runs the whole
    # 2016-products-per-row stage in ONE task (the stage trace showed
    # (0 + 1) / 1 — parallelism, not per-row cost, was the 6 s)
    emb = spread(t["embeddings"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = emb.select(F.posexplode("v").alias("pos", "val"))
    # r12-opt: sa and sb below both broadcast from this frame, and an
    # unpersisted plan runs the scan+posexplode+agg subtree once PER
    # broadcast (plan ops 25-33 in plans/r12/embedding_dim_corr_before
    # duplicate ops 14-22). 64 rows — materialize once.
    dstats = D._materialize(
        dims.groupBy("pos").agg(
            F.count("*").alias("n"),
            F.sum(F.col("val").cast(DEC)).cast("double").alias("s"),
            F.sum((F.col("val") * F.col("val")).cast(DEC))
            .cast("double")
            .alias("ss"),
        )
    )
    # row-local upper-triangle products as a FLAT double array +
    # posexplode: the flat index is decoded to (pos_a, pos_b) via a
    # broadcast 2016-row literal frame AFTER aggregation — emitting
    # per-pair structs inside the interpreted lambda measured 4x
    # slower (struct allocation per element), 15.6 s vs ~4 s at sf0.1.
    # The products come from an Arrow-batched numpy outer-triangle
    # (one fancy-indexed multiply per batch) instead of a nested
    # interpreted transform lambda — float64 x*y is the identical
    # IEEE multiply either way, so the decimal-folded sums (and the
    # oracle hash) are unchanged; with spread above, 6.4 → 2.3 s
    # at sf0.1
    probe = emb.select("v").head()  # 1-row driver probe
    if probe is None:
        raise ValueError(
            "embedding_dim_corr: embeddings table is empty — no vector to "
            "probe the dimensionality from"
        )
    dim = len(probe["v"])
    iu_a, iu_b = np.triu_indices(dim, k=1)  # row-major — matches decode
    n_pairs = len(iu_a)

    # r12-opt (guide §4.2): the r9 form returned the 2016 products as
    # one array<double> CELL per row and posexploded in the JVM — at
    # the default 10k-row Arrow batch that is a ~160 MB batch per
    # worker plus 40M exploded structs, and the bench showed the
    # Python workers degrading across reps (6 s → 73 s on one box,
    # min/med 3.0/50.1 in BENCH_r12opt_before). mapInArrow streams the
    # SAME (pidx, xy) rows as flat ~4 MB record batches (256 input
    # rows at a time), so no giant Arrow cells and no explode exist at
    # any scale; the identical float64 products reach the identical
    # decimal-fold groupBy, so the sums (and oracle hash) are
    # unchanged. Measured: med 19.6 s → 2.6 s, max 72.8 s → 2.7 s.
    def _upper_products_arrow(it):
        import pyarrow as pa

        pidx_tile = np.arange(n_pairs, dtype=np.int32)
        for rb in it:
            V = _flat_vectors(rb, dim)
            for s in range(0, V.shape[0], 256):
                chunk = V[s : s + 256]
                P = chunk[:, iu_a] * chunk[:, iu_b]  # identical IEEE mults
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.tile(pidx_tile, P.shape[0])),
                        pa.array(P.reshape(-1)),  # row-major = decode order
                    ],
                    names=["pidx", "xy"],
                )

    pair_terms = emb.select("v").mapInArrow(
        _upper_products_arrow, "pidx int, xy double"
    )
    decode = spark.createDataFrame(
        [
            (p, i, j)
            for p, (i, j) in enumerate(
                (i, j) for i in range(dim) for j in range(i + 1, dim)
            )
        ],
        "pidx int, pos_a int, pos_b int",
    )
    sxy = (
        pair_terms.groupBy("pidx")
        .agg(F.sum(F.col("xy").cast(DEC)).cast("double").alias("sxy"))
        .join(F.broadcast(decode), "pidx")
        .drop("pidx")
    )
    sa = dstats.select(
        F.col("pos").alias("pos_a"),
        F.col("n"),
        F.col("s").alias("sx"),
        F.col("ss").alias("sxx"),
    )
    sb = dstats.select(
        F.col("pos").alias("pos_b"),
        F.col("s").alias("sy"),
        F.col("ss").alias("syy"),
    )
    sums = sxy.join(F.broadcast(sa), "pos_a").join(F.broadcast(sb), "pos_b")
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        sums.select(
            "pos_a",
            "pos_b",
            fround(corr, 6).alias("corr"),
            fround(F.abs(corr), 6).alias("abs_corr"),
        )
        .orderBy(F.desc("abs_corr"), F.asc("pos_a"), F.asc("pos_b"))
        .limit(20)
    )


O_EMBEDDING_DIM_CORR = f"""
WITH dims AS (
  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, array_length(embedding) + 1)) AS t(i)
), sums AS (
  SELECT a.pos AS pos_a, b.pos AS pos_b,
         count(*) AS n,
         CAST(sum(CAST(a.val AS DECIMAL(30,10))) AS DOUBLE) AS sx,
         CAST(sum(CAST(b.val AS DECIMAL(30,10))) AS DOUBLE) AS sy,
         CAST(sum(CAST(a.val * a.val AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(b.val * b.val AS DECIMAL(30,10))) AS DOUBLE) AS syy,
         CAST(sum(CAST(a.val * b.val AS DECIMAL(30,10))) AS DOUBLE) AS sxy
  FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.pos < b.pos
  GROUP BY 1, 2
)
SELECT pos_a, pos_b,
       {o_fround("(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))", 6)} AS corr,
       {o_fround("abs((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))", 6)} AS abs_corr
FROM sums
ORDER BY abs_corr DESC, pos_a ASC, pos_b ASC
LIMIT 20
"""

QUERIES["embedding_dim_corr"] = q_embedding_dim_corr
ORACLES["embedding_dim_corr"] = O_EMBEDDING_DIM_CORR


# ------------------------------------------ language-ID evaluation

def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-based language classifier
    ([language_id]) against the labeled lang column, with per-cell
    share of the true language's documents — the evaluation harness
    that turns the heuristic into a measured component (which langs
    it confuses, how often 'und' happens).

    Plan (100 TB): classification is a row-local expression; the
    matrix is one map-side-combined groupBy over a |langs|² key space;
    row shares divide exact counts via a broadcast margin join.
    """
    t = tables(spark, sf_dir, "documents")
    pred = X.language_id(t["documents"], "text", "doc_id").select(
        "doc_id", "lang_pred"
    )
    truth = t["documents"].select("doc_id", "lang")
    cells = (
        truth.join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )
    margins = cells.groupBy("lang").agg(F.sum("n").alias("row_total"))
    return cells.join(F.broadcast(margins), "lang").select(
        "lang",
        "lang_pred",
        "n",
        fround(F.col("n") / F.col("row_total"), 6).alias("row_share"),
    )


O_LANGID_CONFUSION = f"""
WITH pred AS (
  SELECT doc_id, lang,
       CASE WHEN {_H_EN} = 0 AND {_H_DE} = 0 AND {_H_FR} = 0 AND {_H_ES} = 0 THEN 'und'
            WHEN {_H_EN} >= {_H_DE} AND {_H_EN} >= {_H_FR} AND {_H_EN} >= {_H_ES} THEN 'en'
            WHEN {_H_DE} >= {_H_FR} AND {_H_DE} >= {_H_ES} THEN 'de'
            WHEN {_H_FR} >= {_H_ES} THEN 'fr'
            ELSE 'es' END AS lang_pred
  FROM documents
), cells AS (
  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
), margins AS (
  SELECT lang, sum(n) AS row_total FROM cells GROUP BY 1
)
SELECT lang, lang_pred, n,
       {o_fround("CAST(n AS DOUBLE) / row_total", 6)} AS row_share
FROM cells JOIN margins USING (lang)
"""

QUERIES["langid_confusion"] = q_langid_confusion
ORACLES["langid_confusion"] = O_LANGID_CONFUSION


# ------------------------------------------ character n-gram profiles

def q_char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 character trigrams per language over normalized text —
    the classic language-fingerprint features (Cavnar & Trenkle 1994):
    the profile that a trainable language identifier would learn, and
    a drift check for mislabeled-language slices (a 'fr' slice whose
    top trigrams look English is mislabeled).

    Plan (100 TB): trigrams explode from a row-local transform (no
    string self-joins); the normalized text is LET-BOUND so the
    regexp normalization runs once per row, not once per character
    position (the measured O(chars²) lambda trap — 60 s -> ~3 s at
    sf0.1). The (lang, trigram) groupBy map-side combines the
    per-position explode down to a vocabulary-bounded frame before
    the shuffle; top-5 per lang is a window over that SMALL frame —
    per-lang distinct-trigram counts are alphabet-bounded, not
    data-bounded.
    """
    from data_ingestors_spark.operators.dedup import let_bound

    t = tables(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    tris = t["documents"].select(
        "lang",
        F.explode(
            let_bound(
                norm,
                # sequence(1, 0) DESCENDS in Spark — empty-out short rows
                lambda tv: F.when(
                    F.length(tv) < 3, F.array().cast("array<string>")
                ).otherwise(
                    F.transform(
                        F.sequence(F.lit(1), F.length(tv) - 2),
                        lambda i: tv.substr(i, F.lit(3)),
                    )
                ),
            )
        ).alias("tri"),
    )
    counts = tris.groupBy("lang", "tri").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tri"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("lang", "tri", "n", "rnk")
    )


O_CHAR_NGRAM_PROFILE = """
WITH norm AS (
  SELECT lang, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
  FROM documents
), tris AS (
  SELECT lang,
         unnest([substr(t, i, 3) FOR i IN range(1, greatest(length(t) - 2, 0) + 1)]) AS tri
  FROM norm
), counts AS (
  SELECT lang, tri, CAST(count(*) AS BIGINT) AS n FROM tris GROUP BY 1, 2
)
SELECT lang, tri, n, rnk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tri ASC) AS BIGINT) AS rnk
  FROM counts
) WHERE rnk <= 5
"""

QUERIES["char_ngram_profile"] = q_char_ngram_profile
ORACLES["char_ngram_profile"] = O_CHAR_NGRAM_PROFILE


# ------------------------------------------ Matryoshka truncation audit

def q_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation audit (Kusupati et al. 2022): how
    much of the exact full-dimension cosine top-10 survives when the
    index stores only the FIRST 16 of 64 dimensions — the measurement
    behind the 'truncate the embedding, keep 4x the vectors in memory'
    trade every large retrieval deployment now makes. Output: per
    query, the overlap count and fraction between the d=64 and d=16
    top-10 sets.

    Plan (100 TB): two brute-force exact top-k passes (the corpus
    scan is shared work a real deployment replaces with its index —
    here exactness is what makes the overlap oracle-checkable), both
    the broadcast-queries shape of [embedding_topk]; the overlap is a
    (query_id, neighbor_id) equi-join of two k-row-per-query frames.
    Ranking ties break on rounded similarity + neighbor id in BOTH
    engines, so the compared sets are deterministic.
    """
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"), "label")
    full = S.cosine_topk_bruteforce(emb, _queries_subset(emb), k=10).select(
        "query_id", "neighbor_id"
    )
    trunc = S.cosine_topk_bruteforce(emb16, _queries_subset(emb16), k=10).select(
        "query_id", "neighbor_id"
    )
    hits = full.join(trunc, ["query_id", "neighbor_id"], "left_semi").groupBy(
        "query_id"
    ).agg(F.count("*").cast("long").alias("n_overlap"))
    base = full.groupBy("query_id").agg(F.count("*").cast("long").alias("k"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "k",
        F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        fround(F.coalesce("n_overlap", F.lit(0)) / F.col("k"), 4).alias("overlap_frac"),
    )


O_MATRYOSHKA_AUDIT = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
fscore AS (
  SELECT q.query_id, c.vec_id AS nid,
         {o_fround("list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))", 6)} AS s
  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id
),
ftop AS (
  SELECT query_id, nid FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, nid) AS rnk
    FROM fscore) WHERE rnk <= 10
),
tscore AS (
  SELECT q.query_id, c.vec_id AS nid,
         {o_fround("list_cosine_similarity(CAST(q.qv[1:16] AS DOUBLE[]), CAST(c.embedding[1:16] AS DOUBLE[]))", 6)} AS s
  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id
),
ttop AS (
  SELECT query_id, nid FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, nid) AS rnk
    FROM tscore) WHERE rnk <= 10
),
hits AS (
  SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_overlap
  FROM ftop f JOIN ttop t ON f.query_id = t.query_id AND f.nid = t.nid
  GROUP BY 1
)
SELECT b.query_id, b.k,
       CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       {o_fround("CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / b.k", 4)} AS overlap_frac
FROM (SELECT query_id, CAST(count(*) AS BIGINT) AS k FROM ftop GROUP BY 1) b
LEFT JOIN hits h ON b.query_id = h.query_id
"""

QUERIES["matryoshka_audit"] = q_matryoshka_audit
ORACLES["matryoshka_audit"] = O_MATRYOSHKA_AUDIT


# ------------------------------------------ int8 quantization audit

def q_int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit: per dimension, the min-max
    affine quantizer's scale, reconstruction MSE, and worst absolute
    error — the 4x-memory-cut feasibility report (float32 -> int8 is
    the first compression every vector store applies, before PQ).
    Quantizer: q = floor((v - min) / scale + 0.5), scale =
    (max - min)/255, dequant = min + q * scale.

    Plan (100 TB): ONE posexplode of the vectors feeds a per-dim
    min/max groupBy (64 keys — map-side combined to nothing); the
    per-dim parameters broadcast back onto the exploded stream and the
    error moments are a second 64-key combine. Two scans, zero
    wide-row shuffles. Error sums accumulate in DECIMAL so the
    reported MSE is reduction-order free.
    """
    t = tables(spark, sf_dir, "embeddings")
    vals = t["embeddings"].select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select(F.col("dim").cast("long").alias("dim"), F.col("val").cast("double").alias("val"))
    stats = vals.groupBy("dim").agg(
        F.min("val").alias("vmin"), F.max("val").alias("vmax")
    )
    scale = (F.col("vmax") - F.col("vmin")) / F.lit(255.0)
    joined = vals.join(F.broadcast(stats), "dim").withColumn("scale", scale)
    qcode = F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
        F.floor((F.col("val") - F.col("vmin")) / F.col("scale") + F.lit(0.5)).cast(
            "double"
        )
    )
    err = F.col("val") - (F.col("vmin") + qcode * F.col("scale"))
    return (
        joined.withColumn("err", err)
        .groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            fround(F.first("vmin"), 6).alias("vmin"),
            fround(F.first("vmax"), 6).alias("vmax"),
            fround(F.first("scale"), 10).alias("scale"),
            fround(
                F.sum((F.col("err") * F.col("err")).cast(DEC)).cast("double")
                / F.count("*"),
                12,
            ).alias("mse"),
            fround(F.max(F.abs("err")), 10).alias("max_abs_err"),
        )
    )


O_INT8_QUANT_AUDIT = f"""
WITH vals AS (
  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
stats AS (
  SELECT dim, min(val) AS vmin, max(val) AS vmax,
         (max(val) - min(val)) / 255.0 AS scale
  FROM vals GROUP BY 1
),
errs AS (
  SELECT v.dim, v.val, s.vmin, s.vmax, s.scale,
         v.val - (s.vmin + (CASE WHEN s.scale = 0 THEN 0.0
                                 ELSE CAST(floor((v.val - s.vmin) / s.scale + 0.5) AS DOUBLE)
                            END) * s.scale) AS err
  FROM vals v JOIN stats s USING (dim)
)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       {o_fround("min(vmin)", 6)} AS vmin,
       {o_fround("min(vmax)", 6)} AS vmax,
       {o_fround("min(scale)", 10)} AS scale,
       {o_fround("CAST(sum(CAST(err * err AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 12)} AS mse,
       {o_fround("max(abs(err))", 10)} AS max_abs_err
FROM errs GROUP BY 1
"""

QUERIES["int8_quant_audit"] = q_int8_quant_audit
ORACLES["int8_quant_audit"] = O_INT8_QUANT_AUDIT


# ------------------------------------------ tokenizer fertility

def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: characters and UTF-8 bytes per
    whitespace token — the multilingual token-budget planner's table
    (the same text costs ~2x the tokens in agglutinative or non-Latin
    languages; byte-level tokenizers price by the byte column).

    Plan (100 TB): pure row-local expressions (no explode — token
    COUNT needs only the split array's size) into one |langs|-key
    map-side-combined groupBy; ratios divide exact integer sums, so
    the doubles are bit-identical across engines.
    """
    t = tables(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    n_tokens = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(F.size(ws))
    d = t["documents"].select(
        "lang",
        n_tokens.cast("long").alias("toks"),
        F.length("text").cast("long").alias("chars"),
        F.octet_length("text").cast("long").alias("bytes"),
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.sum("chars").cast("long").alias("n_chars"),
        F.sum("bytes").cast("long").alias("n_bytes"),
        fround(F.sum("chars") / F.sum("toks"), 6).alias("chars_per_token"),
        fround(F.sum("bytes") / F.sum("toks"), 6).alias("bytes_per_token"),
        fround(F.sum("toks") / F.count("*"), 4).alias("tokens_per_doc"),
    )


O_TOKEN_FERTILITY = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS n_tokens,
       CAST(sum(chars) AS BIGINT) AS n_chars,
       CAST(sum(bytes) AS BIGINT) AS n_bytes,
       {o_fround("CAST(sum(chars) AS DOUBLE) / sum(toks)", 6)} AS chars_per_token,
       {o_fround("CAST(sum(bytes) AS DOUBLE) / sum(toks)", 6)} AS bytes_per_token,
       {o_fround("CAST(sum(toks) AS DOUBLE) / count(*)", 4)} AS tokens_per_doc
FROM (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
         length(text) AS chars,
         strlen(text) AS bytes
  FROM documents
)
GROUP BY 1
"""

QUERIES["token_fertility"] = q_token_fertility
ORACLES["token_fertility"] = O_TOKEN_FERTILITY


# ------------------------------------------ dedup family economics

def q_dedup_family_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family size histogram with the storage economics:
    for each exact-duplicate family size (after [dedup_normalized]'s
    normalization), how many families, their total bytes, and the
    bytes deduplication would RECLAIM (everything beyond each family's
    canonical min-doc_id representative) — the report that justifies
    running dedup at all on a 100 TB corpus.

    Plan: families key on md5(normalized text) so the groupBy shuffles
    16-byte digests, never document bodies; the representative's size
    rides a struct-min (no second pass); the histogram is a second
    combine over the family frame (size-bounded key space).
    """
    t = tables(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    fams = (
        t["documents"]
        .select(
            F.md5(norm).alias("fam"),
            "doc_id",
            F.octet_length("text").cast("long").alias("b"),
        )
        .groupBy("fam")
        .agg(
            F.count("*").cast("long").alias("fam_size"),
            F.sum("b").cast("long").alias("bytes"),
            F.min(F.struct("doc_id", "b")).getField("b").alias("rep_bytes"),
        )
    )
    return fams.groupBy("fam_size").agg(
        F.count("*").cast("long").alias("n_families"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.sum(F.col("bytes") - F.col("rep_bytes")).cast("long").alias("reclaimable_bytes"),
    )


O_DEDUP_FAMILY_STATS = """
WITH fams AS (
  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fam,
         CAST(count(*) AS BIGINT) AS fam_size,
         CAST(sum(strlen(text)) AS BIGINT) AS bytes,
         CAST(arg_min(strlen(text), doc_id) AS BIGINT) AS rep_bytes
  FROM documents GROUP BY 1
)
SELECT fam_size,
       CAST(count(*) AS BIGINT) AS n_families,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(sum(bytes - rep_bytes) AS BIGINT) AS reclaimable_bytes
FROM fams GROUP BY 1
"""

QUERIES["dedup_family_stats"] = q_dedup_family_stats
ORACLES["dedup_family_stats"] = O_DEDUP_FAMILY_STATS


# ------------------------------------------ Cohen's kappa

def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the marker-based language classifier against
    the labeled lang column — chance-corrected agreement, the metric
    that exposes a classifier that merely predicts the majority class
    (raw accuracy on an 80%-English corpus looks fine at 0.8; kappa
    calls it 0). Complements [langid_confusion]'s per-cell view with
    the single defensible summary number.

    Plan (100 TB): everything derives from the |langs|² confusion-cell
    frame (one map-side-combined groupBy over the corpus); margins,
    observed and expected agreement are arithmetic on that tiny frame.
    kappa is computed from the ROUNDED po/pe so both engines transform
    identical doubles.
    """
    t = tables(spark, sf_dir, "documents")
    pred = X.language_id(t["documents"], "text", "doc_id").select("doc_id", "lang_pred")
    truth = t["documents"].select("doc_id", "lang")
    # r12-opt note: materializing ``cells`` (the language_id corpus
    # pass compiles once per consumer — 8 documents scans) was
    # measured and REJECTED: same-JVM interleaved A/B at sf0.1 put the
    # cached form 1.88x slower min-vs-min (1.25/3.49 s uncached vs
    # 2.35/10.99 s cached over 4 reps/arm) — the persist barrier
    # serializes branches the scheduler overlaps, and ReuseExchange
    # already shares the heavy exchange. See OPTIMIZATION_r12.md.
    cells = (
        truth.join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("lang") == F.col("lang_pred"), F.col("n"))).cast(
            "long"
        ).alias("n_agree"),
    )
    rowm = cells.groupBy(F.col("lang").alias("l")).agg(F.sum("n").alias("rn"))
    colm = cells.groupBy(F.col("lang_pred").alias("l")).agg(F.sum("n").alias("cn"))
    exp_ = (
        rowm.join(colm, "l")
        .crossJoin(F.broadcast(tot.select("n_docs")))
        .agg(
            # per-addend decimal conversion -> the 5-term sum is
            # reduction-order free across engines
            F.sum(
                (
                    F.col("rn").cast("double")
                    * F.col("cn")
                    / (F.col("n_docs").cast("double") * F.col("n_docs"))
                ).cast(DEC)
            )
            .cast("double")
            .alias("_pe")
        )
    )
    po = fround(F.col("n_agree") / F.col("n_docs"), 6)
    pe = fround(F.col("_pe"), 6)
    return tot.crossJoin(F.broadcast(exp_)).select(
        "n_docs",
        "n_agree",
        po.alias("po"),
        pe.alias("pe"),
        fround((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


O_COHENS_KAPPA = f"""
WITH pred AS (
  SELECT doc_id, lang,
       CASE WHEN {_H_EN} = 0 AND {_H_DE} = 0 AND {_H_FR} = 0 AND {_H_ES} = 0 THEN 'und'
            WHEN {_H_EN} >= {_H_DE} AND {_H_EN} >= {_H_FR} AND {_H_EN} >= {_H_ES} THEN 'en'
            WHEN {_H_DE} >= {_H_FR} AND {_H_DE} >= {_H_ES} THEN 'de'
            WHEN {_H_FR} >= {_H_ES} THEN 'fr'
            ELSE 'es' END AS lang_pred
  FROM documents
),
cells AS (
  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN lang = lang_pred THEN n END) AS BIGINT) AS n_agree
  FROM cells
),
expd AS (
  SELECT CAST(sum(CAST(CAST(rn AS DOUBLE) * cn / (CAST(n_docs AS DOUBLE) * n_docs)
                       AS DECIMAL(30,10))) AS DOUBLE) AS _pe
  FROM (SELECT lang AS l, sum(n) AS rn FROM cells GROUP BY 1) r
  JOIN (SELECT lang_pred AS l, sum(n) AS cn FROM cells GROUP BY 1) c USING (l)
  CROSS JOIN tot
)
SELECT n_docs, n_agree,
       {o_fround("CAST(n_agree AS DOUBLE) / n_docs", 6)} AS po,
       {o_fround("_pe", 6)} AS pe,
       {o_fround(
           f"({o_fround('CAST(n_agree AS DOUBLE) / n_docs', 6)}"
           f" - {o_fround('_pe', 6)})"
           f" / (1.0 - {o_fround('_pe', 6)})", 6)} AS kappa
FROM tot CROSS JOIN expd
"""

QUERIES["cohens_kappa"] = q_cohens_kappa
ORACLES["cohens_kappa"] = O_COHENS_KAPPA


# ------------------------------------------ blocking-quality audit

def q_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit for the FastSS 1-deletion scheme that
    feeds [record_linkage]: reduction ratio (how many of the n² pairs
    blocking never generates) and pair completeness (what fraction of
    TRUE distance-1 pairs the candidate set retains) — the two numbers
    every entity-resolution paper reports before trusting a blocker
    (Christen 2012).

    The ground truth here is the exhaustive all-pairs edit-distance
    scan, so the audit is corpus-quadratic BY CONSTRUCTION — the query
    therefore runs it on a bounded DETERMINISTIC sample (the metrics
    are ratios, so a sample estimates them unbiasedly, and a modulo
    predicate is engine-portable where RNG sampling is not). The
    modulus ADAPTS to corpus size (r9 — measured 7.6 s → >10 min on a
    10× sf1 with the fixed %10): the smallest power of 10 that keeps
    the sample ≤ ~1500 rows, floored at 10, computed integer-exactly
    in BOTH engines as '1' || repeat('0', digits(ceil(n/1500) − 1)) —
    no float log10 whose ULP could flip the modulus between engines.
    The sample, and with it the quadratic truth scan, stays constant
    as the corpus grows. Exact-on-the-sample is what lets the oracle
    check it. The candidate side joins raw deletion keys (the
    production path's xxhash64 keys would add a ~2⁻⁶⁴ collision term
    to the audit itself).
    """
    from data_ingestors_spark.operators.fuzzy import _deletion_keys

    t = tables(spark, sf_dir, "customer")
    mod = t["customer"].agg(
        F.expr(
            "CAST(concat('1', repeat('0', "
            "length(CAST((count(*) + 1499) DIV 1500 - 1 AS STRING)))) AS BIGINT)"
        ).alias("m")
    )
    # r12-opt: cust feeds five branches (keys a/b, truth x/y, n) and
    # cands/truth each feed two consumers — unpersisted, the plan
    # re-ran the customer scan + mod agg per branch and the quadratic
    # levenshtein truth scan TWICE (36 customer scans / 28 nested-loop
    # branches in plans/r12/blocking_audit_before.txt). All three
    # frames are bounded by construction (sample ≤ ~1500 rows), so
    # materializing them runs each subtree exactly once (guide §2.4).
    cust = D._materialize(
        t["customer"]
        .crossJoin(F.broadcast(mod))
        .filter(F.col("c_custkey") % F.greatest(F.col("m"), F.lit(10)) == 0)
        .select(F.col("c_custkey").alias("id"), F.col("c_name").alias("v"))
    )
    keys = cust.select("id", F.explode(_deletion_keys("v")).alias("k"))
    cands = D._materialize(candidate_pairs(keys, ["k"], "id"))
    # r12-opt (guide §2.5 input skew): the ≤1500-row sample collapses
    # to ONE scan partition, so the deliberately-quadratic ~1.1M-pair
    # levenshtein nested-loop ran on a single core (measured 8-9.5 s;
    # repartitioned across the cluster: 1.1-1.7 s). Spreading the
    # STREAMED side is row-identical — the filter decides membership,
    # not placement.
    truth = D._materialize(
        cust.repartition(spark.sparkContext.defaultParallelism)
        .alias("x")
        .join(cust.alias("y"), F.col("x.id") < F.col("y.id"))
        .filter(F.levenshtein(F.col("x.v"), F.col("y.v")) == 1)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
    )
    found = cands.join(truth, ["id_a", "id_b"], "left_semi")
    n = cust.agg(
        F.count("*").cast("long").alias("n_records"),
        (F.count("*") * (F.count("*") - 1) / 2).cast("long").alias("n_total_pairs"),
    )
    nc = cands.agg(F.count("*").cast("long").alias("n_candidates"))
    nt = truth.agg(F.count("*").cast("long").alias("n_true"))
    nf = found.agg(F.count("*").cast("long").alias("n_found"))
    return (
        n.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nf))
        .select(
            "n_records",
            "n_total_pairs",
            "n_candidates",
            "n_true",
            "n_found",
            fround(
                F.lit(1.0) - F.col("n_candidates") / F.col("n_total_pairs"), 6
            ).alias("reduction_ratio"),
            fround(F.col("n_found") / F.col("n_true"), 6).alias("pair_completeness"),
        )
    )


O_BLOCKING_AUDIT = f"""
WITH mod AS (
  SELECT greatest(CAST('1' || repeat('0',
           length(CAST((count(*) + 1499) // 1500 - 1 AS VARCHAR))) AS BIGINT),
         10) AS m
  FROM customer
),
cust AS (
  SELECT c_custkey, c_name FROM customer, mod WHERE c_custkey % mod.m = 0
),
keys AS (
  SELECT c_custkey AS id, c_name AS k FROM cust
  UNION
  SELECT c_custkey, substr(c_name, 1, i - 1) || substr(c_name, i + 1, length(c_name))
  FROM cust, unnest(range(1, length(c_name) + 1)) AS t(i)
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.id < b.id
),
truth AS (
  SELECT x.c_custkey AS id_a, y.c_custkey AS id_b
  FROM cust x JOIN cust y ON x.c_custkey < y.c_custkey
  WHERE levenshtein(x.c_name, y.c_name) = 1
),
found AS (
  SELECT c.id_a, c.id_b FROM cands c
  WHERE EXISTS (SELECT 1 FROM truth t WHERE t.id_a = c.id_a AND t.id_b = c.id_b)
),
n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_records,
         CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_total_pairs
  FROM cust
)
SELECT n_records, n_total_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM cands) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       (SELECT CAST(count(*) AS BIGINT) FROM found) AS n_found,
       {o_fround("1.0 - (SELECT count(*) FROM cands) / CAST(n_total_pairs AS DOUBLE)", 6)} AS reduction_ratio,
       {o_fround("(SELECT count(*) FROM found) / CAST((SELECT count(*) FROM truth) AS DOUBLE)", 6)} AS pair_completeness
FROM n
"""

QUERIES["blocking_audit"] = q_blocking_audit
ORACLES["blocking_audit"] = O_BLOCKING_AUDIT


# ------------------------------------------ prefix-filter similarity join

def q_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs set-similarity self-join (Jaccard >= 0.8) over the
    UNBLOCKED corpus via df-ordered prefix filtering (Bayardo et al.,
    WWW 2007) — the ssjoin pruning [ngram_jaccard]'s source blocking
    sidesteps. The oracle below is the exhaustive all-pairs scan, so a
    green row proves the prefix-prefix candidate join lossless on this
    corpus. Plan notes in the operator docstring
    ([operators/dedup.py prefix_filter_pairs]): ids-only candidate
    shuffle, token-set verify joined back off a persisted frame.

    Measured-cost note: the synthetic word-soup corpus draws every
    document from one tiny vocabulary, so word-SET Jaccard is
    adversarially high — ~24% of ALL pairs are true matches at t=0.8
    (30k of 125k at sf0.01). The wall cost here is therefore bound by
    the OUTPUT (and near-total candidate survival), not by the pruning
    — no exact algorithm beats its own answer size. On a real open
    corpus (diverse vocab) the df-ordered prefixes prune as published;
    for a corpus known to be this self-similar you compose with
    blocking ([ngram_jaccard]) instead of an unblocked ssjoin.
    """
    t = tables(spark, sf_dir, "documents")
    return D.prefix_filter_pairs(t["documents"], "text", "doc_id", threshold=0.8)


O_PREFIX_FILTER_JOIN = f"""
WITH w AS (
  SELECT doc_id,
         list_distinct(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS words
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {o_fround('''CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words)))''', 6)} AS jaccard
FROM w a JOIN w b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
      / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) >= 0.8
"""

QUERIES["prefix_filter_join"] = q_prefix_filter_join
ORACLES["prefix_filter_join"] = O_PREFIX_FILTER_JOIN


# --- kNN label-noise audit ---------------------------------------------

def q_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit by k-nearest-neighbor disagreement: for each
    audited embedding (a corpus-adaptive deterministic sample — the
    FULL corpus at ≤2000 rows), the majority label among its 10 exact
    cosine neighbors vs its own label — the Confident-Learning-style
    screen a training pipeline runs to surface mislabeled examples
    before fine-tuning.

    Plan: the scorer is the Arrow-GEMM exact top-k path
    (cosine_topk_numpy) with an adaptively-sampled audit set as the
    query side (full corpus at ≤2000 rows; see the modulus comment
    in the body) against the full corpus as neighbors — at the
    benched scale the collected query matrix is |corpus| x 64 floats
    (~1 MB), and each Arrow batch does one C @ Q.T GEMM with batch-local
    top-k, so the shuffle carries <= k rows per query. At billion-row
    scale the all-vs-all contract swaps the scorer for the ANN tiers
    (embedding_ann_* — identical output contract) or the chunked-grid
    pair join of semantic_dedup; the vote/label logic below is
    unchanged. That swap is ENFORCED, not prose: cosine_topk_numpy
    fail-louds above its max_collected_queries bound (default 100k
    rows), so an oversize corpus can never silently OOM the driver
    here — the same bound covers the two label broadcasts below,
    which are corpus-keyed ids-only frames. Voting: groupBy(query, neighbor label) on the k*n
    candidate frame, majority by (votes desc, label asc) row_number
    over the per-query <= |labels| vote rows; labels join back via a
    broadcast of the ids->label frame (ids-only payload). Ranking uses
    6-dp-rounded similarities (same portable rounding as the oracle),
    so the neighbor set is engine-exact.
    """
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    labels = emb.select("vec_id", "label")
    # Audit-set modulus adapts to corpus size (r9): auditing EVERY row
    # keeps query count ∝ corpus, i.e. all-vs-all quadratic growth. A
    # production noise screen audits a bounded deterministic sample —
    # m = 10^(digits(⌈n/2000⌉) − 1) (integer-exact in both engines,
    # same device as [q_blocking_audit]); m = 1 at ≤2000 rows, so every
    # driver test scale still audits the full corpus.
    mod = emb.agg(
        F.expr(
            "CAST(concat('1', repeat('0', "
            "length(CAST((count(*) + 1999) DIV 2000 AS STRING)) - 1)) AS BIGINT)"
        ).alias("m")
    )
    audited = (
        emb.crossJoin(F.broadcast(mod))
        .filter(F.col("vec_id") % F.col("m") == 0)
    )
    knn = S.cosine_topk_numpy(emb, audited, k=10)
    votes = (
        knn.join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("nb_label"),
                )
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "nb_label")
        .agg(F.count("*").cast("long").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nb_label").asc()
    )
    maj = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        maj.join(
            F.broadcast(labels.select(F.col("vec_id").alias("query_id"), "label")),
            "query_id",
        )
        .select(
            F.col("query_id").alias("vec_id"),
            "label",
            F.col("nb_label").alias("knn_label"),
            F.col("votes").alias("knn_votes"),
            F.when(F.col("nb_label") != F.col("label"), 1).otherwise(0).cast("long").alias("noisy"),
        )
        .orderBy("vec_id")
    )


O_KNN_LABEL_NOISE = f"""
WITH mod AS (
  SELECT CAST('1' || repeat('0',
           length(CAST((count(*) + 1999) // 2000 AS VARCHAR)) - 1) AS BIGINT) AS m
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nb_label,
         {o_fround("list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))", 6)} AS cos_sim
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  CROSS JOIN mod
  WHERE q.vec_id % mod.m = 0
),
knn AS (
  SELECT query_id, nb_label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk <= 10
),
votes AS (
  SELECT query_id, nb_label, CAST(count(*) AS BIGINT) AS votes
  FROM knn GROUP BY 1, 2
),
maj AS (
  SELECT query_id, nb_label, votes FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY votes DESC, nb_label ASC) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT m.query_id AS vec_id, e.label, m.nb_label AS knn_label,
       m.votes AS knn_votes,
       CAST(CASE WHEN m.nb_label <> e.label THEN 1 ELSE 0 END AS BIGINT) AS noisy
FROM maj m JOIN embeddings e ON e.vec_id = m.query_id
ORDER BY vec_id
"""

QUERIES["knn_label_noise"] = q_knn_label_noise
ORACLES["knn_label_noise"] = O_KNN_LABEL_NOISE


# --- per-document character entropy filter ------------------------------

def q_char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-entropy profile: Shannon entropy (bits) of
    each document's character distribution, the low-entropy count
    (H < 3.0 — repeated-character boilerplate, padding, degenerate
    generations), and the source-level mean — the gibberish/boilerplate
    screen that complements [gopher_quality]'s word-level rules with a
    tokenizer-free signal.

    Scale shape: the explode emits one row per character, but the
    FIRST groupBy keys on (doc_id, char) and partial-aggregates
    map-side — the shuffle carries at most |alphabet| rows per document
    (~60 here), not the character count. Entropy folds that per-doc
    histogram with exact integer ratios into log2 (identical libm
    doubles both engines); the per-source reduce is a third
    combiner-friendly groupBy. The 3.0-bit classification boundary
    sits far from any realistic last-ulp drift.
    """
    from data_ingestors_spark.queries.base import davg, o_davg  # noqa: F401

    t = tables(spark, sf_dir, "documents")
    ch = (
        t["documents"]
        .select("doc_id", "source", F.explode(F.split("text", "")).alias("c"))
        .filter(F.col("c") != "")
    )
    hist = ch.groupBy("doc_id", "source", "c").agg(
        F.count("*").cast("long").alias("k")
    )
    p = F.col("k").cast("double") / F.col("n").cast("double")
    ent = (
        hist.withColumn("n", F.sum("k").over(Window.partitionBy("doc_id")))
        .groupBy("doc_id", "source")
        .agg((-F.sum(fround(p * F.log2(p), 8).cast(DEC))).cast("double").alias("h"))
    )
    return (
        ent.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            davg(F.col("h"), 4).alias("mean_entropy_bits"),
            F.sum(F.when(F.col("h") < 3.0, 1).otherwise(0)).cast("long").alias("n_low_entropy"),
        )
        .orderBy("source")
    )


def _o_char_entropy() -> str:
    from data_ingestors_spark.queries.base import o_davg

    return f"""
WITH ch AS (
  SELECT doc_id, source, c
  FROM documents, unnest(string_split(text, '')) AS u(c)
  WHERE c <> ''
),
hist AS (
  SELECT doc_id, source, c, CAST(count(*) AS BIGINT) AS k FROM ch GROUP BY 1, 2, 3
),
ent AS (
  SELECT doc_id, source,
         CAST(-sum(CAST({o_fround("(CAST(k AS DOUBLE) / n) * log2(CAST(k AS DOUBLE) / n)", 8)}
                         AS DECIMAL(30,10))) AS DOUBLE) AS h
  FROM (SELECT *, sum(k) OVER (PARTITION BY doc_id) AS n FROM hist)
  GROUP BY 1, 2
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       {o_davg("h", 4)} AS mean_entropy_bits,
       CAST(sum(CASE WHEN h < 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_entropy
FROM ent GROUP BY 1 ORDER BY 1
"""


O_CHAR_ENTROPY_FILTER = _o_char_entropy()

QUERIES["char_entropy_filter"] = q_char_entropy_filter
ORACLES["char_entropy_filter"] = O_CHAR_ENTROPY_FILTER


