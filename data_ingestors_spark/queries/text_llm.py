"""LLM training-data pipeline queries over documents/embeddings:
dedup family, similarity search, text analysis (SURVEY.md §2.5
"LLM-pipeline" row + the north-star operator list).

Oracle-checked wherever DuckDB can express the same math; the
hash-seeded ops (MinHash-LSH, SimHash, hyperplane ANN) use Spark's
Murmur3/xxhash64 and are rows-only checked by the driver — their
*verification* math (exact Jaccard / Hamming / cosine re-rank) is
covered by the oracle-checked siblings.
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
from data_ingestors_spark.functions.rounding import fround, o_fround
from data_ingestors_spark.queries.base import DEC, tables

# Loud scale bound for audit queries that broadcast a sampled stratum
# (binary_embedding_audit): 50k x 64-dim doubles ~ 26 MB broadcast.
# Module-level so tests can patch it to prove the guard fires.
MAX_BROADCAST_STRATUM = 50_000


# --- dedup -------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir, "documents")
    return D.exact_dedup(t["documents"], "text", "doc_id")


O_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir, "documents")
    return D.normalized_dedup(t["documents"], "text", "doc_id")


O_DEDUP_NORMALIZED = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard near-dup pairs, blocked by source.
    SPARK_GRAFT_JACCARD_STRATEGY pins the physical strategy for
    within-path scale measurement (see q_dedup_clusters)."""
    import os as _os

    t = tables(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        t["documents"], "text", "doc_id", "source", threshold=0.5,
        strategy=_os.environ.get("SPARK_GRAFT_JACCARD_STRATEGY", "auto"),
    )


O_NGRAM_JACCARD = f"""
WITH w AS (
  SELECT doc_id, source,
         list_distinct(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS words
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {o_fround('''CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
             / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words)))''', 6)} AS jaccard
FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
      / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))) >= 0.5
"""


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup (rows-only: Murmur3 seeds not in DuckDB).
    Jaccard verification math is oracle-covered by q_ngram_jaccard."""
    t = tables(spark, sf_dir, "documents")
    return D.minhash_near_duplicates(
        spread(t["documents"]), "text", "doc_id",
        num_hashes=32, bands=8, shingle_n=3, threshold=0.7,
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (rows-only: xxhash64 not in DuckDB)."""
    t = tables(spark, sf_dir, "documents")
    return D.simhash_near_duplicates(spread(t["documents"]), "text", "doc_id", max_hamming=3)


# --- similarity search --------------------------------------------------
def _queries_subset(df: DataFrame) -> DataFrame:
    return df.filter(F.col("vec_id") < 5)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for a fixed query set."""
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    return S.cosine_topk_bruteforce(emb, _queries_subset(emb), k=5)


O_EMBEDDING_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {o_fround("list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))", 6)} AS cos_sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


def q_embedding_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage in EMBEDDING space — the semantic twin of
    the n-gram [contamination_check]: for every held-out vector
    (vec_id % 17 == 0, a deterministic oracle-expressible split), the
    exact nearest train vector by cosine and a contamination verdict
    at the SemDeDup-style 0.95 threshold. Decontamination-by-
    similarity is standard before training on scraped corpora —
    benchmark items routinely survive TEXT dedup via paraphrase but
    sit on top of a train vector in embedding space.

    Scale shape: exact top-1 via the broadcast-queries brute-force
    GEMM-free JVM path (queries side is the SMALL split, broadcast;
    corpus side streams) — at 100 TB the queries side is the
    benchmark suite (thousands of rows), so broadcast is the right
    plan at any corpus size."""
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    test = emb.filter(F.col("vec_id") % 17 == 0)
    train = emb.filter(F.col("vec_id") % 17 != 0)
    top1 = S.cosine_topk_bruteforce(train, test, k=1)
    return top1.select(
        F.col("query_id").alias("test_id"),
        F.col("neighbor_id").alias("nearest_train_id"),
        F.col("cos_sim").alias("max_cos"),
        (F.col("cos_sim") >= 0.95).alias("contaminated"),
    )


O_EMBEDDING_CONTAMINATION = f"""
WITH q AS (SELECT vec_id AS test_id, embedding AS qv FROM embeddings WHERE vec_id % 17 = 0),
tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 17 <> 0),
scored AS (
  SELECT q.test_id, tr.vec_id AS nearest_train_id,
         {o_fround("list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(tr.embedding AS DOUBLE[]))", 6)} AS max_cos
  FROM tr CROSS JOIN q
)
SELECT test_id, nearest_train_id, max_cos, max_cos >= 0.95 AS contaminated FROM (
  SELECT *, row_number() OVER (PARTITION BY test_id
                               ORDER BY max_cos DESC, nearest_train_id) AS rn
  FROM scored
) WHERE rn = 1
"""


def q_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (rows-only; recall vs the exact
    brute-force path is asserted in tests/test_similarity.py)."""
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    return S.lsh_ann_topk(emb, _queries_subset(emb), k=5, n_tables=8, n_planes=6, dim=64)


def q_embedding_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched numpy GEMM scorer — same exact contract (and the
    same oracle) as embedding_topk; this is the throughput path."""
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    return S.cosine_topk_numpy(emb, _queries_subset(emb), k=5)


def q_embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: k-means coarse cells + n_probe search
    (rows-only; recall vs brute force asserted in tests)."""
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    return S.ivf_ann_topk(emb, _queries_subset(emb), k=5, n_cells=16, n_probe=4)


def q_embedding_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-5: 8x 8-dim codebooks, ADC
    lookup-table scoring over byte codes, exact re-rank of survivors
    (rows-only; recall vs brute force asserted in tests — the
    memory-bound tier of the ANN stack, m bytes scanned per vector
    instead of the float vector)."""
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    return S.pq_ann_topk(emb, _queries_subset(emb), k=5, m_subspaces=8, n_codes=32, refine=10)


def q_embedding_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index (FAISS IVFx,PQy recipe): coarse cells
    route the probe, residual PQ codes bound the bytes scanned, exact
    re-rank of survivors (rows-only; recall vs brute force asserted in
    tests — the billion-scale configuration of the ANN stack)."""
    t = tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    return S.ivfpq_ann_topk(emb, _queries_subset(emb), k=5, n_cells=16, n_probe=4)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within a label block.

    At t=0.9 the r11 cost model routes auto to the EXACT chunked-grid
    GEMM: recall-safe LSH params exist (8 planes × 27 tables) but
    their analytic candidate fraction (0.10) exceeds
    LSH_PAIRS_CANDIDATE_CUTOVER — measured 13-20× slower than the
    grid at 20k vectors on both corpus shapes (BASELINE.md §r11),
    because every candidate pays a bucket-join + vector-join +
    batched-cosine cost while the grid scores pairs at BLAS speed.
    Per-task input stays bounded by chunk_rows, not label block size.
    LSH engages under auto only past t≈0.93, where its ids-only
    bucket join prunes hard enough to win."""
    t = tables(spark, sf_dir, "embeddings")
    return S.blocked_cosine_pairs(
        t["embeddings"], id_col="vec_id", vec_col="embedding",
        threshold=0.9, block_col="label",
    )


O_EMBEDDING_NEARDUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {o_fround("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))", 6)} AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {o_fround("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))", 6)} >= 0.9
"""


# --- text analysis ------------------------------------------------------
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir, "documents")
    return X.text_stats(t["documents"], "text", "doc_id")


_O_NWORDS = (
    "CASE WHEN trim(text) = '' THEN 0"
    " ELSE len(string_split_regex(trim(text), '\\s+')) END"
)
_O_NPUNCT = "length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))"
_O_NDIGIT = "length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))"
_O_CPW = o_fround(f"CAST(length(text) AS DOUBLE) / greatest({_O_NWORDS}, 1)", 4)
_O_PUNCT_R = o_fround(f"CAST({_O_NPUNCT} AS DOUBLE) / greatest(length(text), 1)", 6)
_O_DIGIT_R = o_fround(f"CAST({_O_NDIGIT} AS DOUBLE) / greatest(length(text), 1)", 6)

O_TEXT_STATS = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST({_O_NWORDS} AS BIGINT) AS n_words,
       {_O_CPW} AS chars_per_word,
       CAST({_O_NPUNCT} AS BIGINT) AS n_punct,
       {_O_PUNCT_R} AS punct_ratio,
       {_O_DIGIT_R} AS digit_ratio
FROM documents
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir, "documents")
    return X.language_id(t["documents"], "text", "doc_id")


def _o_hits(lang: str, markers: list[str]) -> str:
    pat = r"\b(" + "|".join(markers) + r")\b"
    return f"CAST(len(regexp_extract_all(lower(text), '{pat}')) AS BIGINT)"


_H_EN = _o_hits("en", X.LANG_MARKERS["en"])
_H_DE = _o_hits("de", X.LANG_MARKERS["de"])
_H_FR = _o_hits("fr", X.LANG_MARKERS["fr"])
_H_ES = _o_hits("es", X.LANG_MARKERS["es"])

O_LANGUAGE_ID = f"""
SELECT doc_id,
       {_H_EN} AS hits_en, {_H_DE} AS hits_de, {_H_FR} AS hits_fr, {_H_ES} AS hits_es,
       CASE WHEN {_H_EN} = 0 AND {_H_DE} = 0 AND {_H_FR} = 0 AND {_H_ES} = 0 THEN 'und'
            WHEN {_H_EN} >= {_H_DE} AND {_H_EN} >= {_H_FR} AND {_H_EN} >= {_H_ES} THEN 'en'
            WHEN {_H_DE} >= {_H_FR} AND {_H_DE} >= {_H_ES} THEN 'de'
            WHEN {_H_FR} >= {_H_ES} THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM documents
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir, "documents")
    return X.token_count(t["documents"], "text", "doc_id")


O_TOKEN_COUNT = """
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 canonical fingerprint is oracle-checked; the xxhash64 compact
    key is Spark-only, so it is excluded here and covered by unit tests."""
    t = tables(spark, sf_dir, "documents")
    return X.fingerprint(t["documents"], "text", "doc_id").select("doc_id", "fp_md5")


O_FINGERPRINT = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5
FROM documents
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved to cluster keep/drop decisions:
    connected components (min-label propagation) over the oracle-
    checked n-gram Jaccard edges, singletons kept. The oracle computes
    the same components with a recursive-CTE transitive closure.

    SPARK_GRAFT_JACCARD_STRATEGY (measurement knob, default "auto"):
    pins the pair-scan physical strategy so scale proofs can measure
    the bitmask and inverted-index paths each WITHIN-path (the auto
    cost model crosses between them as per-block vocabulary grows —
    BASELINE.md §r9/§r11 — which makes the unpinned decade ratio a
    strategy-crossing artifact, not a slope)."""
    import os as _os

    t = tables(spark, sf_dir, "documents")
    docs = t["documents"]
    pairs = D.ngram_jaccard_pairs(
        docs, "text", "doc_id", "source", threshold=0.5,
        strategy=_os.environ.get("SPARK_GRAFT_JACCARD_STRATEGY", "auto"),
    )
    return D.neardup_clusters(docs.select("doc_id"), pairs.select("id_a", "id_b"))


O_DEDUP_CLUSTERS = f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({O_NGRAM_JACCARD})),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(node, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT reach.node, e.d FROM reach JOIN edges e ON reach.r = e.s
),
comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM comp
UNION ALL
SELECT doc_id, doc_id AS cluster_id, TRUE AS keep
FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM comp)
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: per-doc email/URL/phone match counts
    plus the redacted text (operators/text.py pii_redact)."""
    from data_ingestors_spark.operators import text as X

    t = tables(spark, sf_dir, "documents")
    return X.pii_redact(t["documents"], "text", "doc_id")


O_PII_REDACT = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_url,
       CAST(len(regexp_extract_all(text, '\+?[0-9][0-9() .-]{7,}[0-9]')) AS BIGINT) AS n_phone,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^\s]+', '<URL>', 'g'),
         '\+?[0-9][0-9() .-]{7,}[0-9]', '<PHONE>', 'g') AS redacted
FROM documents
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: label-blocked embedding
    cosine pairs (>= 0.35 at this corpus's similarity scale) resolved
    into cluster keep/drop decisions with the same connected-components
    operator as the textual dedup path. Oracle: recursive-CTE closure
    over the identical pair SQL.

    At t=0.35 a qualifying pair sits at ~69.5° — close enough to the
    ~90° of a random pair that NO recall-safe bucketing prunes
    (measured: LSH and multi-probe IVF both leave ≥ 95% of all pairs
    as candidates). The gate in blocked_cosine_pairs therefore runs
    the exact chunked-grid join: semantics stay exact (the closure
    oracle below is the proof) and the pair scan's per-task input is
    bounded by chunk_rows, not label block size — the scale fix for
    the r4 all-pairs block join. Past GRID_PAIRS_CELLS_CUTOVER
    within-block pairs, auto swaps in the equally-exact cell-pruned
    grid (r9: 60.8 s → 13.7 s at the 10× synthetic sf1, same rows,
    same oracle)."""
    t = tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    pairs = S.blocked_cosine_pairs(
        e, id_col="vec_id", vec_col="embedding",
        threshold=0.35, block_col="label",
    ).select("id_a", "id_b")
    return D.neardup_clusters(
        e.select(F.col("vec_id").alias("doc_id")), pairs
    ).select(F.col("doc_id").alias("vec_id"), "cluster_id", "keep")


def q_semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup through the SemDeDup cell-pruning strategy
    (operators/similarity.py _cell_pruned_cosine_pairs): k-means cells
    whose pairwise angular gap provably exceeds arccos(threshold) are
    skipped; surviving cell pairs run the same bounded chunk grid.
    EXACT by the spherical triangle inequality — it shares this
    closure oracle with semantic_dedup, so the hash match is the
    proof. On this corpus (random vectors, radii near 90°) nothing
    prunes and the run degenerates to grid + one assignment pass; on
    clustered embeddings the quadratic shrinks to near-diagonal cell
    blocks."""
    t = tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    pairs = S.blocked_cosine_pairs(
        e, id_col="vec_id", vec_col="embedding",
        threshold=0.35, block_col="label", strategy="cells", n_cells=8,
    ).select("id_a", "id_b")
    return D.neardup_clusters(
        e.select(F.col("vec_id").alias("doc_id")), pairs
    ).select(F.col("doc_id").alias("vec_id"), "cluster_id", "keep")


_O_SEM_PAIRS = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {o_fround("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))", 6)} >= 0.35
"""

O_SEMANTIC_DEDUP = f"""
WITH RECURSIVE
pairs AS ({_O_SEM_PAIRS}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(node, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT reach.node, e.d FROM reach JOIN edges e ON reach.r = e.s
),
comp AS (SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT vec_id, cluster_id, vec_id = cluster_id AS keep FROM comp
UNION ALL
SELECT vec_id, vec_id AS cluster_id, TRUE AS keep
FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM comp)
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_clusters": q_dedup_clusters,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_cells": q_semantic_dedup_cells,
    "pii_redact": q_pii_redact,
    "dedup_normalized": q_dedup_normalized,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_neardup": q_minhash_neardup,
    "simhash_neardup": q_simhash_neardup,
    "embedding_topk": q_embedding_topk,
    "embedding_topk_fast": q_embedding_topk_fast,
    "embedding_ann": q_embedding_ann,
    "embedding_ann_ivf": q_embedding_ann_ivf,
    "embedding_ann_pq": q_embedding_ann_pq,
    "embedding_ann_ivfpq": q_embedding_ann_ivfpq,
    "embedding_neardup": q_embedding_neardup,
    "embedding_contamination": q_embedding_contamination,
    "text_stats": q_text_stats,
    "language_id": q_language_id,
    "token_count": q_token_count,
    "fingerprint": q_fingerprint,
}

ORACLES = {
    "dedup_exact": O_DEDUP_EXACT,
    "dedup_clusters": O_DEDUP_CLUSTERS,
    "semantic_dedup": O_SEMANTIC_DEDUP,
    "semantic_dedup_cells": O_SEMANTIC_DEDUP,
    "pii_redact": O_PII_REDACT,
    "dedup_normalized": O_DEDUP_NORMALIZED,
    "ngram_jaccard": O_NGRAM_JACCARD,
    "embedding_topk": O_EMBEDDING_TOPK,
    # same exact semantics, same oracle — the fast path must match it
    "embedding_topk_fast": O_EMBEDDING_TOPK,
    "embedding_neardup": O_EMBEDDING_NEARDUP,
    "embedding_contamination": O_EMBEDDING_CONTAMINATION,
    "text_stats": O_TEXT_STATS,
    "language_id": O_LANGUAGE_ID,
    "token_count": O_TOKEN_COUNT,
    "fingerprint": O_FINGERPRINT,
}


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality tier + corpus histogram (see
    operators/text.py quality_score)."""
    t = tables(spark, sf_dir, "documents")
    return (
        X.quality_score(t["documents"], "text", "doc_id")
        .groupBy("quality")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


O_QUALITY_SCORE = f"""
WITH s AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST({_O_NWORDS} AS BIGINT) AS n_words,
         {_O_CPW} AS chars_per_word,
         {_O_PUNCT_R} AS punct_ratio,
         {_O_DIGIT_R} AS digit_ratio
  FROM documents
)
SELECT CAST((CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 1 ELSE 0 END
      + CASE WHEN n_words >= 20 THEN 1 ELSE 0 END
      + CASE WHEN punct_ratio <= 0.10 THEN 1 ELSE 0 END
      + CASE WHEN digit_ratio <= 0.20 THEN 1 ELSE 0 END
      + CASE WHEN chars_per_word BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END) AS BIGINT) AS quality,
       CAST(count(*) AS BIGINT) AS n_docs
FROM s GROUP BY 1
"""

QUERIES["quality_score"] = q_quality_score
ORACLES["quality_score"] = O_QUALITY_SCORE


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (64-word chunks, 16-word overlap) —
    zero-shuffle row-local array expressions (operators/text.py
    chunk_documents)."""
    from data_ingestors_spark.operators.text import chunk_documents

    t = tables(spark, sf_dir, "documents")
    return chunk_documents(t["documents"], "text", "doc_id", chunk_size=64, overlap=16)


O_CHUNK_DOCUMENTS = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), n AS (
  SELECT doc_id, w, len(w) AS nw,
         1 + CAST(ceil(greatest(len(w) - 64, 0) / 48.0) AS BIGINT) AS n_chunks
  FROM ws
)
SELECT doc_id,
       k AS chunk_id,
       least(nw - k * 48, 64) AS n_words,
       array_to_string(w[k * 48 + 1 : k * 48 + 64], ' ') AS chunk_text
FROM n, LATERAL unnest(generate_series(0, n_chunks - 1)) AS t(k)
"""

QUERIES["chunk_documents"] = q_chunk_documents
ORACLES["chunk_documents"] = O_CHUNK_DOCUMENTS


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash fingerprints: per-doc distinct
    window-minimum k-gram hashes (operators/text.py
    winnowing_fingerprints), reduced to a per-doc fingerprint count +
    the numerically smallest fingerprint so the oracle row is
    compact but pins the actual selected hashes."""
    from data_ingestors_spark.operators.text import winnowing_fingerprints

    t = tables(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(t["documents"], "text", "doc_id", k=5, window=4)
    return fps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_fps"),
        F.min("fp").alias("min_fp"),
    )


O_WINNOWING = """
WITH g AS (
  SELECT doc_id,
         [CAST(('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15)) AS BIGINT)
          for i in generate_series(1, greatest(len(ws) - 4, 1))] AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
), f AS (
  SELECT doc_id,
         list_distinct([list_min(grams[i:i+3])
                        for i in generate_series(1, greatest(len(grams) - 3, 1))]) AS fps
  FROM g
)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fps,
       list_min(fps) AS min_fp
FROM f
"""

QUERIES["winnowing"] = q_winnowing
ORACLES["winnowing"] = O_WINNOWING


def q_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document overlap via winnowing fingerprints: docs sharing
    >= 3 selected fingerprints, with the shared count as the overlap
    score. The fingerprint inverted-index join is the MOSS match step:
    candidates are only pairs sharing a sampled hash — never all
    pairs. Restricted to same-source pairs (the blocked shape every
    plagiarism/contamination scan runs per shard).

    MOSS noise filter: fingerprints appearing in more than ``max_df``
    documents are dropped BEFORE the self-join. Without it one
    boilerplate n-gram shared by d documents costs O(d²) join rows —
    the same density trap documented for the Jaccard index path
    (operators/dedup.py) — and its matches are noise, not copied
    passages. The hot set is tiny by definition, so it anti-joins as a
    broadcast."""
    from data_ingestors_spark.operators.text import winnowing_fingerprints

    max_df = 10
    t = tables(spark, sf_dir, "documents")
    docs = t["documents"]
    # both the hot-df filter branch and the pair join read the
    # fingerprint frame — persist it so the window-min expression tree
    # (the expensive part) evaluates once, not twice; the broadcast
    # subjob materializes the cache before the main join reads it
    fps = winnowing_fingerprints(docs, "text", "doc_id", k=5, window=4).persist()
    hot = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("fp")
    )
    fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    src = docs.select("doc_id", "source")
    fps = fps.join(src, "doc_id")
    # not candidate_pairs: the pairs count their shared keys, not distinct
    right = fps.select(
        F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_r"), F.col("source").alias("src_r")
    )
    return (
        fps.join(
            right,
            (F.col("fp") == F.col("fp_r"))
            & (F.col("source") == F.col("src_r"))
            & (F.col("doc_id") < F.col("id_b")),
        )
        .groupBy(F.col("doc_id").alias("id_a"), "id_b")
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )


O_WINNOWING_OVERLAP = """
WITH g AS (
  SELECT doc_id, source,
         [CAST(('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15)) AS BIGINT)
          for i in generate_series(1, greatest(len(ws) - 4, 1))] AS grams
  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)
), f AS (
  SELECT doc_id, source,
         unnest(list_distinct([list_min(grams[i:i+3])
                 for i in generate_series(1, greatest(len(grams) - 3, 1))])) AS fp
  FROM g
), ff AS (
  -- MOSS noise filter: drop fingerprints shared by > 10 documents
  SELECT * FROM f
  WHERE fp NOT IN (SELECT fp FROM f GROUP BY fp HAVING count(*) > 10)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared_fps
FROM ff a JOIN ff b ON a.fp = b.fp AND a.source = b.source AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
"""

QUERIES["winnowing_overlap"] = q_winnowing_overlap
ORACLES["winnowing_overlap"] = O_WINNOWING_OVERLAP


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM fluency score (bits/word, Laplace-smoothed) — the
    cheap perplexity proxy for corpus quality ranking
    (operators/text.py unigram_logprob). fround(4) on the float for
    engine-stable comparison."""
    from data_ingestors_spark.operators.text import unigram_logprob

    t = tables(spark, sf_dir, "documents")
    out = unigram_logprob(t["documents"], "text", "doc_id")
    return out.select(
        "doc_id", "n_words", fround(F.col("bits_per_word"), 4).alias("bits_per_word")
    )


O_UNIGRAM_LOGPROB = f"""
WITH base AS (
  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
  FROM documents
), base_f AS (
  SELECT doc_id, w FROM base WHERE w <> ''
), stats AS (
  SELECT w, count(*) AS cnt FROM base_f GROUP BY w
), totals AS (
  SELECT sum(cnt) AS n_tokens, count(*) AS n_vocab FROM stats
), model AS (
  SELECT w, -log2((cnt + 0.5) / (n_tokens + 0.5 * n_vocab)) AS bits
  FROM stats, totals
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       {o_fround("avg(bits)", 4)} AS bits_per_word
FROM base_f JOIN model USING (w)
GROUP BY doc_id
"""

QUERIES["unigram_logprob"] = q_unigram_logprob
ORACLES["unigram_logprob"] = O_UNIGRAM_LOGPROB


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring windows per document (Lee et al.,
    ACL 2022 substring-dedup primitive; operators/text.py
    dup_span_stats). All shuffles are combiner-friendly groupBys —
    unique-window attribution via max(doc_id) replaces any join or
    window keyed on the span string, so a corpus-hot span cannot skew
    a reducer."""
    from data_ingestors_spark.operators.text import dup_span_stats

    t = tables(spark, sf_dir, "documents")
    return dup_span_stats(spread(t["documents"]), "text", "doc_id", span=30)


O_DUP_SPAN_STATS = f"""
WITH spans AS (
  SELECT doc_id, substr(text, i, 30) AS w
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 29, 0) + 1)) AS i
        FROM documents)
), freq AS (
  SELECT w, count(*) AS n_occ FROM spans GROUP BY w
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       {o_fround("sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)", 6)} AS dup_frac
FROM spans JOIN freq USING (w)
GROUP BY doc_id
"""

QUERIES["dup_span_stats"] = q_dup_span_stats
ORACLES["dup_span_stats"] = O_DUP_SPAN_STATS


def q_dup_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated spans: fixed-span duplicated windows merged
    into variable-length contiguous regions per document (the Lee et
    al. maximal-substring primitive via seeds + interval merge;
    operators/text.py dup_span_merge). The global frequency groupBy is
    hot-span-safe; duplicated positions come from an anti-join on the
    uniform (doc_id, pos) key, never a join on the span string."""
    from data_ingestors_spark.operators.text import dup_span_merge

    t = tables(spark, sf_dir, "documents")
    return dup_span_merge(spread(t["documents"]), "text", "doc_id", span=30)


O_DUP_SPAN_MERGE = """
WITH spans AS (
  SELECT doc_id, i AS pos, substr(text, i, 30) AS w
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 29, 0) + 1)) AS i
        FROM documents)
), freq AS (
  SELECT w, count(*) AS n_occ FROM spans GROUP BY w
), dup AS (
  SELECT doc_id, pos FROM spans JOIN freq USING (w) WHERE n_occ > 1
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 30
              THEN 0 ELSE 1 END AS brk
  FROM dup
), grp AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM isl
), sp AS (
  SELECT doc_id, g, max(pos) - min(pos) + 30 AS chars
  FROM grp GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(chars) AS BIGINT) AS dup_chars,
       CAST(max(chars) AS BIGINT) AS max_span_chars
FROM sp GROUP BY doc_id
"""

QUERIES["dup_span_merge"] = q_dup_span_merge
ORACLES["dup_span_merge"] = O_DUP_SPAN_MERGE


def q_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate scrub: every document rewritten with its maximal
    duplicated regions (>= 30 chars) cut out (operators/text.py
    strip_dup_spans) — the action step after dup_span_merge. Region
    computation shares the hot-span-safe plan; the rewrite itself is
    one codegen aggregate fold over the per-doc sorted region array,
    no UDF."""
    from data_ingestors_spark.operators.text import strip_dup_spans

    t = tables(spark, sf_dir, "documents")
    return strip_dup_spans(spread(t["documents"]), "text", "doc_id", span=30)


O_STRIP_DUP_SPANS = """
WITH spans AS (
  SELECT doc_id, i AS pos, substr(text, i, 30) AS w
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 29, 0) + 1)) AS i
        FROM documents)
), freq AS (
  SELECT w, count(*) AS n_occ FROM spans GROUP BY w
), dup AS (
  SELECT doc_id, pos FROM spans JOIN freq USING (w) WHERE n_occ > 1
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 30
              THEN 0 ELSE 1 END AS brk
  FROM dup
), grp AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM isl
), regf AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 29 AS e
  FROM grp GROUP BY doc_id, g
  HAVING max(pos) + 29 - min(pos) + 1 >= 30
), gaps AS (
  SELECT doc_id,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS gs,
         s - 1 AS ge
  FROM regf
), kept AS (
  SELECT g.doc_id,
         string_agg(substr(d.text, gs, greatest(ge - gs + 1, 0)), '' ORDER BY gs) AS head
  FROM gaps g JOIN documents d USING (doc_id)
  GROUP BY g.doc_id
), tails AS (
  SELECT r.doc_id, substr(d.text, max(r.e) + 1) AS tail
  FROM regf r JOIN documents d USING (doc_id)
  GROUP BY r.doc_id, d.text
), stats AS (
  SELECT doc_id, count(*) AS n_regions FROM regf GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN s.n_regions IS NULL THEN d.text
            ELSE coalesce(k.head, '') || t.tail END AS cleaned_text,
       CAST(coalesce(s.n_regions, 0) AS BIGINT) AS n_regions,
       CAST(length(d.text) -
            length(CASE WHEN s.n_regions IS NULL THEN d.text
                        ELSE coalesce(k.head, '') || t.tail END) AS BIGINT)
         AS removed_chars
FROM documents d
LEFT JOIN stats s USING (doc_id)
LEFT JOIN kept k ON k.doc_id = d.doc_id
LEFT JOIN tails t ON t.doc_id = d.doc_id
"""

QUERIES["strip_dup_spans"] = q_strip_dup_spans
ORACLES["strip_dup_spans"] = O_STRIP_DUP_SPANS


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality rules (Rae et al. 2021 A1.1) as
    per-rule audit flags + the conjunction (operators/text.py
    gopher_quality_flags). One let-bound word array + one line array,
    all row-local codegen — no shuffle, no UDF."""
    from data_ingestors_spark.operators.text import gopher_quality_flags

    t = tables(spark, sf_dir, "documents")
    return gopher_quality_flags(t["documents"], "text", "doc_id")


_O_STOP_SUM = " + ".join(
    f"CASE WHEN regexp_matches(' ' || lower(text) || ' ', '[^a-z]{s}[^a-z]') THEN 1 ELSE 0 END"
    for s in ["the", "be", "to", "of", "and", "that", "have", "with"]
)

O_GOPHER_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws,
         list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines
  FROM documents
), m AS (
  SELECT doc_id, text, ws, lines,
         len(ws) AS n_words,
         greatest(len(ws), 1)::DOUBLE AS nw,
         coalesce(list_aggregate(list_transform(ws, w -> length(w)), 'sum'), 0)::DOUBLE AS total_wl,
         len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::DOUBLE AS n_sym,
         greatest(len(lines), 1)::DOUBLE AS nl,
         len(list_filter(lines, l -> regexp_matches(l, '^[•‣▪◦*-]')))::DOUBLE AS n_bullet,
         len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$')))::DOUBLE AS n_ell,
         len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE AS n_alpha,
         ({_O_STOP_SUM}) AS n_stop
  FROM base
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       {o_fround("total_wl / nw", 4)} AS mean_word_len,
       n_words BETWEEN 50 AND 100000 AS f_word_count,
       total_wl / nw BETWEEN 3.0 AND 10.0 AS f_mean_word_len,
       n_sym / nw <= 0.1 AS f_symbol_ratio,
       n_bullet / nl < 0.9 AS f_bullet_lines,
       n_ell / nl < 0.3 AS f_ellipsis_lines,
       n_alpha / nw >= 0.8 AS f_alpha_words,
       n_stop >= 2 AS f_stopwords,
       (n_words BETWEEN 50 AND 100000) AND (total_wl / nw BETWEEN 3.0 AND 10.0)
         AND (n_sym / nw <= 0.1) AND (n_bullet / nl < 0.9)
         AND (n_ell / nl < 0.3) AND (n_alpha / nw >= 0.8) AND (n_stop >= 2)
         AS passes_gopher
FROM m
"""

QUERIES["gopher_quality"] = q_gopher_quality
ORACLES["gopher_quality"] = O_GOPHER_QUALITY


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2;
    operators/text.py c4_line_filter): terminal-punctuation /
    5-word / javascript line rules as a rewrite, lorem-ipsum +
    curly-brace + >=3-kept-lines doc rules as flags. One let-bound
    line array, row-local codegen."""
    from data_ingestors_spark.operators.text import c4_line_filter

    t = tables(spark, sf_dir, "documents")
    return c4_line_filter(t["documents"], "text", "doc_id")


O_C4_FILTER = """
WITH base AS (
  SELECT doc_id, text,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> l <> '') AS lines
  FROM documents
), m AS (
  SELECT doc_id, text, lines,
         list_filter(lines, l ->
           regexp_matches(l, '[.!?"]$')
           AND len(list_filter(string_split_regex(l, '\\s+'), w -> w <> '')) >= 5
           AND NOT contains(lower(l), 'javascript')) AS kept
  FROM base
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       coalesce(array_to_string(kept, chr(10)), '') AS cleaned_text,
       contains(lower(text), 'lorem ipsum') AS has_lorem,
       contains(text, '{') AS has_brace,
       NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
         AND len(kept) >= 3 AS passes_c4
FROM m
"""

QUERIES["c4_filter"] = q_c4_filter
ORACLES["c4_filter"] = O_C4_FILTER


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance: per customer name, the
    count of other names at edit distance exactly 1 (operators/
    fuzzy.py FastSS deletion-neighborhood blocking — candidates come
    from an equi-join on 1-deletion keys, never an all-pairs compare;
    the DuckDB oracle IS the all-pairs compare, so a hash match proves
    the blocking is lossless on this corpus). Runs with the default
    hot-key density cap (DEFAULT_MAX_KEY_DF) — no c_name key comes
    near it, so the oracle match also proves the cap is a no-op on
    natural identifiers."""
    from data_ingestors_spark.operators.fuzzy import fuzzy_match_stats

    t = tables(spark, sf_dir, "customer")
    return fuzzy_match_stats(spread(t["customer"]), "c_name", "c_custkey")


O_FUZZY_MATCH = """
WITH pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM customer a JOIN customer b
    ON a.c_custkey < b.c_custkey
   AND levenshtein(a.c_name, b.c_name) = 1
), sides AS (
  SELECT id_a AS id, id_b AS match_id FROM pairs
  UNION ALL
  SELECT id_b AS id, id_a AS match_id FROM pairs
)
SELECT id, CAST(count(*) AS BIGINT) AS n_matches, min(match_id) AS min_match_id
FROM sides GROUP BY id
"""

QUERIES["fuzzy_match"] = q_fuzzy_match
ORACLES["fuzzy_match"] = O_FUZZY_MATCH


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency (bits per adjacent word pair, Laplace
    smoothed) — the n-gram step up from unigram_logprob; template spam
    with common words but unlikely transitions scores high
    (operators/text.py bigram_logprob)."""
    from data_ingestors_spark.operators.text import bigram_logprob

    t = tables(spark, sf_dir, "documents")
    out = bigram_logprob(t["documents"], "text", "doc_id")
    return out.select(
        "doc_id",
        "n_bigrams",
        fround(F.col("bits_per_bigram"), 4).alias("bits_per_bigram"),
    )


O_BIGRAM_LOGPROB = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x <> '') AS ws
  FROM documents
), base AS (
  SELECT doc_id, ws[i] AS prev, ws[i + 1] AS w
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks)
), bg AS (
  SELECT prev, w, count(*) AS c_bg FROM base GROUP BY 1, 2
), ctx AS (
  SELECT prev, count(*) AS c_ctx FROM base GROUP BY 1
), vocab AS (
  SELECT count(DISTINCT w) AS v FROM base
), model AS (
  SELECT prev, w, -log2((c_bg + 0.5) / (c_ctx + 0.5 * v)) AS bits
  FROM bg JOIN ctx USING (prev) CROSS JOIN vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       {o_fround("avg(bits)", 4)} AS bits_per_bigram
FROM base JOIN model USING (prev, w)
GROUP BY doc_id
"""

QUERIES["bigram_logprob"] = q_bigram_logprob
ORACLES["bigram_logprob"] = O_BIGRAM_LOGPROB


# ------------------------------------------------- canonical selection

def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups resolved to one CANONICAL survivor each:
    group by the normalized-text fingerprint (same canonicalization as
    [fingerprint]) and keep the best document per group — longest raw
    text, ties to the smallest doc_id. The "which copy do we train on"
    step that follows duplicate detection.

    Plan: one groupBy on the md5 fingerprint with max_by over a
    (n_chars, -doc_id) ordering struct — fully partial-aggregable
    (max_by combines map-side), so unlike a row_number window there is
    no per-group row accumulation and hot fingerprints (a document
    duplicated millions of times at 100 TB) reduce on the map side.
    """
    t = tables(spark, sf_dir, "documents")
    fp = t["documents"].select(
        "doc_id",
        "n_chars",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
        ).alias("fp_md5"),
    )
    return fp.groupBy("fp_md5").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
        ).cast("long").alias("keep_doc_id"),
        F.count("*").cast("long").alias("group_size"),
    )


O_DEDUP_CANONICAL = """
WITH fp AS (
  SELECT doc_id, n_chars,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5
  FROM documents
), ranked AS (
  SELECT fp_md5, doc_id,
         row_number() OVER (PARTITION BY fp_md5
                            ORDER BY n_chars DESC, doc_id) AS rnk,
         count(*) OVER (PARTITION BY fp_md5) AS group_size
  FROM fp
)
SELECT fp_md5, CAST(doc_id AS BIGINT) AS keep_doc_id,
       CAST(group_size AS BIGINT) AS group_size
FROM ranked WHERE rnk = 1
"""

QUERIES["dedup_canonical"] = q_dedup_canonical
ORACLES["dedup_canonical"] = O_DEDUP_CANONICAL


def q_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup clusters resolved to one canonical survivor each: the
    connected components from [dedup_clusters] joined back to document
    quality, keeping the longest document per cluster (ties to the
    smallest doc_id) — the end-to-end "detect, cluster, pick what to
    train on" chain in one query.

    Plan: reuses the cluster assignment (pointer-jumped min-label
    components over oracle-checked Jaccard edges) plus ONE
    partial-aggregable max_by groupBy over (cluster, quality) — the
    canonical pick adds no window and no extra pass over text.
    """
    clusters = q_dedup_clusters(spark, sf_dir)
    t = tables(spark, sf_dir, "documents")
    quality = t["documents"].select("doc_id", "n_chars")
    return (
        clusters.join(quality, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
            ).cast("long").alias("keep_doc_id"),
            F.count("*").cast("long").alias("cluster_size"),
        )
    )


O_CLUSTER_CANONICAL = f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({O_NGRAM_JACCARD})),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(node, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT reach.node, e.d FROM reach JOIN edges e ON reach.r = e.s
),
comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
allc AS (
  SELECT doc_id, cluster_id FROM comp
  UNION ALL
  SELECT doc_id, doc_id AS cluster_id
  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM comp)
),
ranked AS (
  SELECT allc.cluster_id, allc.doc_id,
         row_number() OVER (PARTITION BY allc.cluster_id
                            ORDER BY d.n_chars DESC, allc.doc_id) AS rnk,
         count(*) OVER (PARTITION BY allc.cluster_id) AS cluster_size
  FROM allc JOIN documents d USING (doc_id)
)
SELECT cluster_id, CAST(doc_id AS BIGINT) AS keep_doc_id,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rnk = 1
"""

QUERIES["cluster_canonical"] = q_cluster_canonical
ORACLES["cluster_canonical"] = O_CLUSTER_CANONICAL


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi-Sunter-style weighted
    field agreement): candidate customer pairs from FastSS
    edit-distance-1 name blocking, scored by name similarity +
    nation/segment agreement — the entity-resolution step after fuzzy
    candidate generation.

    Plan: candidates come from the deletion-key equi-join (never an
    all-pairs scan — the oracle's O(n²) levenshtein join is exactly
    what this avoids); attribute joins are two hash joins on the
    customer key; scoring is pure column arithmetic. The oracle proves
    the blocking lossless at this distance AND the score arithmetic
    identical.
    """
    from data_ingestors_spark.operators.fuzzy import fastss_pairs

    t = tables(spark, sf_dir, "customer")
    cust = t["customer"].select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    pairs = fastss_pairs(cust, "c_name", "c_custkey")
    a = cust.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    b = cust.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
    )
    name_sim = F.lit(1.0) - F.levenshtein("name_a", "name_b").cast("double") / F.greatest(
        F.length("name_a"), F.length("name_b")
    ).cast("double")
    score = (
        F.lit(0.5) * name_sim
        + F.lit(0.3) * (F.col("nat_a") == F.col("nat_b")).cast("double")
        + F.lit(0.2) * (F.col("seg_a") == F.col("seg_b")).cast("double")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            fround(score, 6).alias("score"),
            (F.col("nat_a") == F.col("nat_b")).alias("same_nation"),
            (F.col("seg_a") == F.col("seg_b")).alias("same_segment"),
        )
    )


O_RECORD_LINKAGE = f"""
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       {o_fround(
           "0.5 * (1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)"
           "       / CAST(greatest(length(a.c_name), length(b.c_name)) AS DOUBLE))"
           " + 0.3 * CAST(a.c_nationkey = b.c_nationkey AS DOUBLE)"
           " + 0.2 * CAST(a.c_mktsegment = b.c_mktsegment AS DOUBLE)", 6)} AS score,
       a.c_nationkey = b.c_nationkey AS same_nation,
       a.c_mktsegment = b.c_mktsegment AS same_segment
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND levenshtein(a.c_name, b.c_name) = 1
"""

QUERIES["record_linkage"] = q_record_linkage
ORACLES["record_linkage"] = O_RECORD_LINKAGE


_COLL_MIN_COUNT = 5
_COLL_TOP = 20


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the corpus's strongest adjacent word pairs
    with their pointwise mutual information — the phrase-discovery
    pass (tokenizer vocab candidates, stop-phrase lists).

    Plan: bigrams come from a zero-shuffle row-local zip of each doc's
    word array with its tail; ONE groupBy each for bigram and unigram
    counts (both partial-aggregated); scalar totals ride 1-row
    broadcast frames. Selection is top-20 by COUNT (integer ordering,
    ties by words) so the chosen row set is engine-exact; PMI is
    reported, not sorted on — float order would be ulp-fragile across
    engines. ln() runs on identical integer-derived doubles on both
    sides.
    """
    t = tables(spark, sf_dir, "documents")
    words_arr = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")), " "
    )
    docs = t["documents"].select(words_arr.alias("ws"))
    docs = docs.select(F.filter("ws", lambda x: x != "").alias("ws"))
    bigrams = docs.select(
        F.explode(
            F.zip_with(
                F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("wa"), b.alias("wb")),
            )
        ).alias("bg")
    ).select("bg.wa", "bg.wb")
    bigrams = bigrams.persist()
    uni = (
        docs.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cu"))
    )
    bg = bigrams.groupBy("wa", "wb").agg(F.count("*").cast("long").alias("cb"))
    n_bg = bg.agg(F.sum("cb").alias("nb"))
    n_w = uni.agg(F.sum("cu").alias("nw"))
    top = (
        bg.filter(F.col("cb") >= _COLL_MIN_COUNT)
        .orderBy(F.desc("cb"), F.asc("wa"), F.asc("wb"))
        .limit(_COLL_TOP)
    )
    ua = uni.select(F.col("w").alias("wa"), F.col("cu").alias("ca"))
    ub = uni.select(F.col("w").alias("wb"), F.col("cu").alias("cb_u"))
    pmi = (
        F.col("cb").cast("double")
        * F.col("nw").cast("double")
        * F.col("nw").cast("double")
        / (
            F.col("nb").cast("double")
            * F.col("ca").cast("double")
            * F.col("cb_u").cast("double")
        )
    )
    return (
        top.join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(n_bg))
        .crossJoin(F.broadcast(n_w))
        .select(
            "wa",
            "wb",
            F.col("cb").alias("n_pair"),
            fround(F.log(pmi), 6).alias("pmi"),
        )
    )


O_COLLOCATIONS = f"""
WITH docs AS (
  SELECT list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x <> '') AS ws
  FROM documents
), bigrams AS (
  SELECT ws[i] AS wa, ws[i+1] AS wb
  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM docs)
), uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cu
  FROM (SELECT unnest(ws) AS w FROM docs) GROUP BY w
), bg AS (
  SELECT wa, wb, CAST(count(*) AS BIGINT) AS cb FROM bigrams GROUP BY wa, wb
), nb AS (SELECT sum(cb) AS nb FROM bg),
   nw AS (SELECT sum(cu) AS nw FROM uni),
   top AS (
  SELECT * FROM bg WHERE cb >= {_COLL_MIN_COUNT}
  ORDER BY cb DESC, wa, wb LIMIT {_COLL_TOP}
)
SELECT top.wa, top.wb, top.cb AS n_pair,
       {o_fround(
           "ln(CAST(top.cb AS DOUBLE) * CAST(nw.nw AS DOUBLE) * CAST(nw.nw AS DOUBLE)"
           " / (CAST(nb.nb AS DOUBLE) * CAST(ua.cu AS DOUBLE) * CAST(ub.cu AS DOUBLE)))", 6)} AS pmi
FROM top
JOIN uni ua ON ua.w = top.wa
JOIN uni ub ON ub.w = top.wb
CROSS JOIN nb CROSS JOIN nw
"""

QUERIES["collocations"] = q_collocations
ORACLES["collocations"] = O_COLLOCATIONS


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio and hapax
    fraction (words occurring exactly once in the doc) — cheap
    machine-generated-text indicators next to [repetition_stats].

    Plan: explode + groupBy(doc, word) reduces tokens with map-side
    combine; one groupBy(doc) folds to the three counts. No windows,
    no joins."""
    t = tables(spark, sf_dir, "documents")
    words = t["documents"].select(
        "doc_id",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")),
                " ",
            )
        ).alias("w"),
    ).filter(F.col("w") != "")
    per_word = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return per_word.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        fround(F.count("*").cast("double") / F.sum("c"), 6).alias("ttr"),
        fround(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("hapax_frac"),
    )


O_LEXICAL_DIVERSITY = f"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
  FROM documents
), per_word AS (
  SELECT doc_id, w, count(*) AS c FROM words WHERE w <> '' GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       {o_fround("CAST(count(*) AS DOUBLE) / sum(c)", 6)} AS ttr,
       {o_fround("CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS hapax_frac
FROM per_word GROUP BY doc_id
"""

QUERIES["lexical_diversity"] = q_lexical_diversity
ORACLES["lexical_diversity"] = O_LEXICAL_DIVERSITY


