"""Statistical / analytical surface beyond the core relational set:
co-moment aggregates (corr/covar/stddev/var), linear-regression
aggregates, calendar gap-fill via date sequences, unpivot (wide to
long), median + boolean + bitwise aggregates, JSON-to-map scalar
functions, benchmark-contamination overlap (the decontamination pass
of an LLM training pipeline), and per-document TF-IDF top-k terms.

Scale notes (100 TB): every query here is a single shuffle on its
group key (co-moment aggs combine map-side), the calendar explode is
bounded by group-span not table size, and the contamination join
carries only (doc_id, gram-hash) pairs — never document text.

Cross-engine hazards per queries/base.py: decimal accumulators for
order-free sums, fround for every computed double (co-moment results
differ ~1e-12 relative between engines' merge orders — rounding
absorbs it), BIGINT casts for integer aggregates, unique tiebreakers
in every ranked selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestors_spark.operators.baskets import (
    MAX_BASKET_ITEMS,
    basket_pairs,
    cap_baskets,
)
from data_ingestors_spark.queries.base import (
    DEC,
    davg,
    dsum,
    fround,
    o_davg,
    o_dsum,
    o_fround,
    tables,
)


# ---------------------------------------------------------------- stats

def q_stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-moment aggregate family per return flag: correlation and
    covariance of (quantity, price), stddev / variance. One partial
    aggregation, map-side combined."""
    t = tables(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            fround(F.corr(q, p), 6).alias("corr_qty_price"),
            fround(F.covar_samp(q, p), 2).alias("covar_s"),
            fround(F.covar_pop(q, p), 2).alias("covar_p"),
            fround(F.stddev_samp(p), 4).alias("sd_price"),
            fround(F.var_samp(q), 4).alias("var_qty"),
        )
    )


O_STATS_AGGS = f"""
SELECT l_returnflag,
       {o_fround("corr(l_quantity, l_extendedprice)", 6)} AS corr_qty_price,
       {o_fround("covar_samp(l_quantity, l_extendedprice)", 2)} AS covar_s,
       {o_fround("covar_pop(l_quantity, l_extendedprice)", 2)} AS covar_p,
       {o_fround("stddev_samp(l_extendedprice)", 4)} AS sd_price,
       {o_fround("var_samp(l_quantity)", 4)} AS var_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_regr_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (price ~ quantity) per line
    status: slope, intercept, R², point count."""
    t = tables(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        t["lineitem"]
        .groupBy("l_linestatus")
        .agg(
            fround(F.regr_slope(y, x), 4).alias("slope"),
            fround(F.regr_intercept(y, x), 2).alias("intercept"),
            fround(F.regr_r2(y, x), 6).alias("r2"),
            F.regr_count(y, x).cast("long").alias("n_pts"),
        )
    )


O_REGR_AGGS = f"""
SELECT l_linestatus,
       {o_fround("regr_slope(l_extendedprice, l_quantity)", 4)} AS slope,
       {o_fround("regr_intercept(l_extendedprice, l_quantity)", 2)} AS intercept,
       {o_fround("regr_r2(l_extendedprice, l_quantity)", 6)} AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pts
FROM lineitem GROUP BY l_linestatus
"""


# ------------------------------------------------------------- gap fill

def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: per-user daily event counts with missing
    days zero-filled across each user's own [first, last] day span —
    the hypertable time_bucket_gapfill analog. The explode is bounded
    by span length per user, not by table size, so at 100 TB the
    generated calendar stays proportional to (users x days)."""
    t = tables(spark, sf_dir, "events")
    daily = (
        t["events"]
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    span = daily.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    return cal.join(daily, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events")
    )


O_GAP_FILL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), cal AS (
  SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                              CAST(d1 AS TIMESTAMP),
                                              INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
)
SELECT cal.user_id, cal.day, coalesce(daily.n_events, 0) AS n_events
FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.day = daily.day
"""


# -------------------------------------------------------------- unpivot

def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot of an aggregate row (sum qty / price /
    discount per return flag) into (flag, measure, val) — Spark's
    ``DataFrame.unpivot`` (melt)."""
    t = tables(spark, sf_dir, "lineitem")
    wide = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
            dsum(F.col("l_discount"), 4).alias("sum_disc"),
        )
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="val",
    )


O_UNPIVOT_MEASURES = f"""
WITH wide AS (
  SELECT l_returnflag,
         {o_dsum("l_quantity")} AS sum_qty,
         {o_dsum("l_extendedprice")} AS sum_price,
         {o_dsum("l_discount", 4)} AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price' AS measure, sum_price AS val FROM wide
UNION ALL
SELECT l_returnflag, 'sum_disc' AS measure, sum_disc AS val FROM wide
"""


# --------------------------------------------- median / bool / bit aggs

def q_median_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median (interpolated), boolean aggregates, and a guarded
    every/any pair per event type."""
    t = tables(spark, sf_dir, "events")
    v = F.col("value")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            fround(F.median(v), 6).alias("med_value"),
            F.bool_and(v > 0).alias("all_pos"),
            F.bool_or(v > 99).alias("any_high"),
        )
    )


O_MEDIAN_BOOL_AGGS = f"""
SELECT event_type,
       {o_fround("median(value)", 6)} AS med_value,
       bool_and(value > 0) AS all_pos,
       bool_or(value > 99) AS any_high
FROM events GROUP BY event_type
"""


def q_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregates over user ids per event type —
    integer-exact, order-free by construction."""
    t = tables(spark, sf_dir, "events")
    u = F.col("user_id")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.bit_and(u).cast("long").alias("band"),
            F.bit_or(u).cast("long").alias("bor"),
            F.bit_xor(u).cast("long").alias("bxor"),
        )
    )


O_BIT_AGGS = """
SELECT event_type,
       CAST(bit_and(user_id) AS BIGINT) AS band,
       CAST(bit_or(user_id) AS BIGINT) AS bor,
       CAST(bit_xor(user_id) AS BIGINT) AS bxor
FROM events GROUP BY event_type
"""


# ------------------------------------------------------------ map funcs

def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props parsed to a typed map, then the map scalar surface:
    element access, cardinality, key membership. Output stays scalar
    (maps themselves are unordered and hash-hostile across engines)."""
    t = tables(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return t["events"].select(
        "event_id",
        F.element_at(m, "k").cast("long").alias("k_val"),
        F.size(m).cast("long").alias("n_keys"),
        F.when(F.map_contains_key(m, "k"), 1).otherwise(0).cast("long").alias("has_k"),
    )


O_MAP_FUNCS = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
       CAST(CASE WHEN json_extract(props, '$.k') IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS has_k
FROM events
"""


def q_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: build a 3-key map per row, then
    transform_values, map_filter, and map_zip_with — emitted as
    deterministic scalars (summed transformed values, surviving-key
    count, zipped dot product) since raw maps are unordered and
    hash-hostile across engines."""
    t = tables(spark, sf_dir, "lineitem")
    li = t["lineitem"].filter(F.col("l_linenumber") == 1)
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity"),
        F.lit("disc"), F.col("l_discount"),
        F.lit("tax"), F.col("l_tax"),
    )
    doubled = F.transform_values(m, lambda k, v: v * 2)
    big = F.map_filter(m, lambda k, v: v > 0.05)
    weights = F.create_map(
        F.lit("qty"), F.lit(1.0), F.lit("disc"), F.lit(10.0), F.lit("tax"), F.lit(100.0)
    )
    prod = F.map_zip_with(m, weights, lambda k, a, b: a * b)
    return li.select(
        "l_orderkey",
        fround(
            F.aggregate(F.map_values(doubled), F.lit(0.0), lambda acc, v: acc + v), 6
        ).alias("sum_doubled"),
        F.size(big).cast("long").alias("n_big"),
        fround(
            F.aggregate(F.map_values(prod), F.lit(0.0), lambda acc, v: acc + v), 6
        ).alias("weighted"),
    )


O_MAP_HOF = f"""
SELECT l_orderkey,
       {o_fround("(l_quantity*2) + (l_discount*2) + (l_tax*2)", 6)} AS sum_doubled,
       CAST((CASE WHEN l_quantity > 0.05 THEN 1 ELSE 0 END)
          + (CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
          + (CASE WHEN l_tax > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
       {o_fround("l_quantity*1.0 + l_discount*10.0 + l_tax*100.0", 6)} AS weighted
FROM lineitem WHERE l_linenumber = 1
"""


# ----------------------------------------------- contamination overlap

def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: fraction of each candidate doc's
    distinct word 5-grams that appear anywhere in the benchmark set
    (source = 'src0').

    Scale shape: per-doc gram de-duplication happens ROW-LOCALLY with
    ``array_distinct`` inside codegen — the round-3 version shuffled
    every (doc_id, gram) pair through a global ``distinct()`` (and
    computed that exploded frame twice: once under the broadcast, once
    for the candidate side), which was both the 2–4 s line item and
    the high run-to-run variance. Now the candidate side is never
    shuffled at gram granularity: ``n_grams`` is an array length, and
    the only gram-keyed shuffle is the distinct over the (small)
    benchmark set, which then broadcasts into a semi join — at 100 TB
    the benchmark gram set is the dimension side, the corpus side
    streams map-side."""
    t = tables(spark, sf_dir, "documents")
    docs = t["documents"]
    ws = F.split("text", " ")
    gram_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 4),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 5)),
        )
    )
    base = docs.filter(F.size(ws) >= 5).select("doc_id", "source", gram_arr.alias("grams"))
    bench = (
        base.filter(F.col("source") == "src0")
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    cand = base.filter(F.col("source") != "src0")
    total = cand.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
    matched = (
        cand.select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(bench), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    return (
        total.join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            fround(F.coalesce("n_hit", F.lit(0)) / F.col("n_grams"), 6).alias("overlap"),
        )
    )


O_CONTAMINATION_CHECK = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, source,
         unnest([array_to_string(ws[i:i+4], ' ')
                 for i in generate_series(1, len(ws) - 4)]) AS gram
  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)
  WHERE len(ws) >= 5
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE source = 'src0'
), cand AS (
  SELECT doc_id, gram FROM grams WHERE source <> 'src0'
), total AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM cand GROUP BY 1
), matched AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM cand WHERE gram IN (SELECT gram FROM bench) GROUP BY 1
)
SELECT total.doc_id, total.n_grams,
       coalesce(matched.n_hit, 0) AS n_hit,
       {o_fround("coalesce(matched.n_hit, 0) / total.n_grams", 6)} AS overlap
FROM total LEFT JOIN matched ON total.doc_id = matched.doc_id
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average for irregular series (the TWAP/sensor
    staple): each observation holds until the next one, so its weight
    is the microsecond gap to the successor; the last observation per
    user carries no weight. Integer microsecond weights and decimal
    accumulation keep the result order-free across engines."""
    from data_ingestors_spark.queries.base import DEC

    t = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
    weighted = (
        t["events"]
        .select("user_id", "ts", "event_id", "value")
        .withColumn("w_us", gap_us)
        .filter(F.col("w_us").isNotNull())
    )
    num = F.sum((F.col("value") * F.col("w_us")).cast(DEC)).cast("double")
    den = F.sum("w_us")
    return weighted.groupBy("user_id").agg(
        fround(num / den, 6).alias("twap"),
        F.count("*").cast("long").alias("n_intervals"),
    )


O_TIME_WEIGHTED_AVG = f"""
WITH gaps AS (
  SELECT user_id, value,
         epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS w_us
  FROM events
)
SELECT user_id,
       {o_fround("CAST(sum(CAST(value * w_us AS DECIMAL(30,10))) AS DOUBLE) / sum(w_us)", 6)} AS twap,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM gaps WHERE w_us IS NOT NULL
GROUP BY user_id
"""


# ----------------------------------------------------- rolling anomaly

def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: each event's value scored
    against the mean/std of the PREVIOUS 50 same-type events; |z| > 3
    flags. Rolling moments come from decimal-exact sum and sum-of-
    squares over the frame — order-free, so Spark's incremental
    window evaluation and DuckDB's segment-tree combine cannot drift
    apart (double window sums would). One shuffle on event_type."""
    from data_ingestors_spark.queries.base import DEC

    t = tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-50, -1)
    )
    v = F.col("value")
    n = F.count(v).over(w)
    s = F.sum(v.cast(DEC)).over(w).cast("double")
    sq = F.sum((v * v).cast(DEC)).over(w).cast("double")
    mean = s / n
    var = (sq - s * s / n) / (n - 1)
    z = (v - mean) / F.sqrt(var)
    return (
        t["events"]
        .select("event_id", "event_type", "value", n.alias("n_win"), z.alias("z_raw"))
        .filter((F.col("n_win") >= 20) & (F.abs("z_raw") > 3))
        .select("event_id", "event_type", fround(F.col("z_raw"), 4).alias("z"))
    )


O_ROLLING_ANOMALY = f"""
WITH scored AS (
  SELECT event_id, event_type, value,
         count(value) OVER w AS n_win,
         CAST(sum(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE) AS s,
         CAST(sum(CAST(value * value AS DECIMAL(30,10))) OVER w AS DOUBLE) AS sq
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT event_id, event_type, n_win,
         (value - s / n_win) / sqrt((sq - s * s / n_win) / (n_win - 1)) AS z_raw
  FROM scored
)
SELECT event_id, event_type, {o_fround("z_raw", 4)} AS z
FROM z WHERE n_win >= 20 AND abs(z_raw) > 3
"""


# ------------------------------------------------------ corpus packing

def q_corpus_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training prep: documents fill
    fixed-budget token bins sequentially per source (deterministic
    doc_id order). bin = floor(tokens_before / budget) — one window
    cumsum per source partition, integer-exact, then a per-bin
    rollup. At scale each source packs independently (one shuffle on
    source), which is how packing is sharded in practice."""
    budget = 512
    t = tables(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("long")
    w = Window.partitionBy("source").orderBy("doc_id")
    binned = (
        t["documents"]
        .select("doc_id", "source", toks.alias("tokens"))
        .withColumn(
            "bin_id",
            F.floor((F.sum("tokens").over(w) - F.col("tokens")) / budget).cast("long"),
        )
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("bin_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


O_CORPUS_PACKING = """
WITH toks AS (
  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
  FROM documents
), binned AS (
  SELECT doc_id, source, tokens,
         CAST(floor((sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens)
                    / 512) AS BIGINT) AS bin_id
  FROM toks
)
SELECT source, bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS bin_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM binned GROUP BY source, bin_id
"""


# --------------------------------------------------------------- tf-idf

def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Term and document frequencies
    are integer-exact; the only double is ln(N/df), rounded engine-
    portably BEFORE ranking so the selected set is identical across
    engines; word is the tiebreaker. N rides a broadcast 1-row frame
    (doctor-exempt) instead of a driver count() — one corpus scan
    total, not two."""
    t = tables(spark, sf_dir, "documents")
    docs = t["documents"]
    # corpus size as a broadcast 1-row frame folded into the vocab-sized
    # df table — NOT a driver-side docs.count(), which would be a second
    # full scan of the corpus at scale
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.count("*").cast("long").alias("df")).crossJoin(
        F.broadcast(n_docs)
    )
    scored = tf.join(F.broadcast(df_), "word").select(
        "doc_id",
        "word",
        fround(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tfidf", F.col("rk").cast("long").alias("rk"))
    )


O_TFIDF_TOPK = f"""
WITH tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY 1, 2
), df AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id, tf.word,
         {o_fround("tf.tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / df.df)", 6)} AS tfidf
  FROM tf JOIN df ON tf.word = df.word
), ranked AS (
  SELECT doc_id, word, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS BIGINT) AS rk
  FROM scored
)
SELECT doc_id, word, tfidf, rk FROM ranked WHERE rk <= 3
"""


# ------------------------------------------------------------------ BM25

def q_bm25_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by Okapi BM25 relevance to a fixed term set —
    the lexical retrieval baseline of a RAG / similarity-search stack
    (operators/text.py bm25_score). The top-k orders on the exact
    DECIMAL score (identical quantized values in both engines) with
    doc_id as tiebreaker, then rounds for output."""
    from data_ingestors_spark.operators.text import bm25_score

    t = tables(spark, sf_dir, "documents")
    scored = bm25_score(t["documents"], "text", "doc_id", ["vector", "merge", "window"])
    return (
        scored.orderBy(F.desc("bm25_dec"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", fround(F.col("bm25_dec").cast("double"), 6).alias("bm25"))
    )


O_BM25_RELEVANCE = f"""
WITH toks AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(dl AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE w IN ('vector', 'merge', 'window') GROUP BY 1, 2
), dfreq AS (
  SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         sum(CAST(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * (1.2 + 1.0))
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))
         AS DECIMAL(30,10))) AS bm25_dec
  FROM tf
  JOIN dfreq ON tf.w = dfreq.w
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id,
       {o_fround("CAST(bm25_dec AS DOUBLE)", 6)} AS bm25
FROM scored
ORDER BY bm25_dec DESC, doc_id ASC
LIMIT 20
"""



def q_dup_ngram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-n-gram character fraction (Rae et al.
    2021 repetition filters): per document, the fraction of characters
    covered by occurrences of trigrams that appear more than once in
    the doc. Complements repetition_stats' word/bigram signals with
    the char-weighted measure the published filters threshold on
    (docs failing dup_3gram_char_frac > ~0.18 are dropped).

    Shape: one explode bounded by words-per-doc, a per-(doc, trigram)
    count, and a char-weighted conditional sum — all map-side partials
    on the doc_id key; the trigram text itself never shuffles beyond
    the per-doc agg."""
    t = tables(spark, sf_dir, "documents")
    # Materialize the token array in its own projection before the HOF:
    # referencing an unmaterialized split() expression inside the
    # transform lambda re-evaluates the split once per trigram index
    # (O(words^2) char work per doc) — same let-bind fix as
    # bigram_logprob / ngram_coverage_curve.
    toks = t["documents"].select("doc_id", F.split("text", " ").alias("ws"))
    ws = F.col("ws")
    base = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(ws) - 2, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
            )
        ).alias("tri"),
    ).filter(F.size(F.split(F.col("tri"), " ")) == 3)
    per_tri = base.groupBy("doc_id", "tri").agg(
        F.count("*").cast("long").alias("c"), F.length("tri").cast("long").alias("chars")
    )
    return per_tri.groupBy("doc_id").agg(
        fround(
            F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("chars")).otherwise(0))
            / F.sum(F.col("c") * F.col("chars")),
            6,
        ).alias("dup_3gram_char_frac"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("long").alias("dup_tri_n"),
        F.sum("c").cast("long").alias("tri_n"),
    )


O_DUP_NGRAM_CHARS = f"""
WITH base AS (
  SELECT doc_id, tri
  FROM (
    SELECT doc_id,
           unnest([array_to_string(ws[i:i+2], ' ')
                   for i in generate_series(1, greatest(len(ws) - 2, 1))]) AS tri
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  )
  WHERE len(string_split(tri, ' ')) = 3
), per_tri AS (
  SELECT doc_id, tri, CAST(count(*) AS BIGINT) AS c,
         CAST(length(tri) AS BIGINT) AS chars
  FROM base GROUP BY 1, 2
)
SELECT doc_id,
       {o_fround("CAST(sum(CASE WHEN c > 1 THEN c * chars ELSE 0 END) AS DOUBLE) / sum(c * chars)", 6)} AS dup_3gram_char_frac,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_tri_n,
       CAST(sum(c) AS BIGINT) AS tri_n
FROM per_tri GROUP BY doc_id
"""



# --------------------------------------------------- repetition stats

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word
    fraction and the fraction of bigrams taken by the most frequent
    bigram. One explode bounded by words-per-doc; the per-doc scalar
    stats never leave the row."""
    t = tables(spark, sf_dir, "documents")
    docs = t["documents"]
    ws = F.split("text", " ")
    base = docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - 1),
                lambda i: F.concat_ws(" ", F.slice(ws, i, 2)),
            )
        ).alias("bigram"),
    ).filter(F.col("n_words") >= 2)
    per_bigram = base.groupBy("doc_id", "n_words", "n_distinct", "bigram").agg(
        F.count("*").cast("long").alias("c")
    )
    return per_bigram.groupBy("doc_id", "n_words", "n_distinct").agg(
        F.max("c").cast("long").alias("top_bigram_n"),
        F.sum("c").cast("long").alias("n_bigrams"),
    ).select(
        "doc_id",
        "n_words",
        fround(1.0 - F.col("n_distinct") / F.col("n_words"), 6).alias("dup_word_frac"),
        fround(F.col("top_bigram_n") / F.col("n_bigrams"), 6).alias("top_bigram_frac"),
    )


O_REPETITION_STATS = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
         unnest([array_to_string(ws[i:i+1], ' ')
                 for i in generate_series(1, len(ws) - 1)]) AS bigram
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  WHERE len(ws) >= 2
), per_bigram AS (
  SELECT doc_id, n_words, n_distinct, bigram, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY 1, 2, 3, 4
)
SELECT doc_id, n_words,
       {o_fround("1.0 - n_distinct / n_words", 6)} AS dup_word_frac,
       {o_fround("CAST(max(c) AS DOUBLE) / sum(c)", 6)} AS top_bigram_frac
FROM per_bigram GROUP BY doc_id, n_words, n_distinct
"""


# ----------------------------------------------- embedding centroids

def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one row per
    (label, dimension) — vector aggregation via posexplode so the
    partial aggregation is map-side combined per (label, dim) and no
    vector ever needs to fit anywhere special. Decimal accumulators
    keep the mean order-free."""
    t = tables(spark, sf_dir, "embeddings")
    return (
        t["embeddings"]
        .select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy(F.col("label").cast("long").alias("label"), (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(davg(F.col("v"), 6).alias("centroid"))
    )


O_EMBEDDING_CENTROIDS = f"""
SELECT CAST(label AS BIGINT) AS label, CAST(s.d AS BIGINT) AS dim,
       {o_davg("s.v", 6)} AS centroid
FROM (
  SELECT label,
         unnest([struct_pack(d := i, v := embedding[i])
                 for i in generate_series(1, len(embedding))]) AS s
  FROM embeddings
)
GROUP BY 1, 2
"""


# -------------------------------------------------------------- funnel

def q_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> signup -> purchase: a user
    counts for a stage only if that event happens strictly after the
    previous stage's first event. Three keyed min-aggregations chained
    by join — each stage's frame shrinks, so the joins get cheaper as
    the funnel narrows."""
    t = tables(spark, sf_dir, "events")
    ev = t["events"]

    def first_after(etype: str, prev: DataFrame | None, prev_col: str | None, out: str) -> DataFrame:
        stage = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            stage = stage.join(prev, "user_id").filter(F.col("ts") > F.col(prev_col))
        return stage.groupBy("user_id").agg(F.min("ts").alias(out))

    v = first_after("view", None, None, "v_ts")
    s = first_after("signup", v, "v_ts", "s_ts")
    p = first_after("purchase", s, "s_ts", "p_ts")
    return (
        v.agg(F.count("*").cast("long").alias("n_view"))
        .crossJoin(s.agg(F.count("*").cast("long").alias("n_signup_after")))
        .crossJoin(p.agg(F.count("*").cast("long").alias("n_purchase_after")))
    )


O_FUNNEL_ANALYSIS = """
WITH v AS (
  SELECT user_id, min(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY 1
), s AS (
  SELECT e.user_id, min(e.ts) AS s_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'signup' AND e.ts > v.v_ts GROUP BY 1
), p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s.s_ts GROUP BY 1
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
       (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_signup_after,
       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_after
"""


# ----------------------------------------------------- cohort retention

def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day,
    distinct active users per (cohort_day, day_offset). Two shuffles
    (first-seen per user, then the matrix aggregation)."""
    t = tables(spark, sf_dir, "events")
    ev = t["events"].select("user_id", F.to_date("ts").alias("day"))
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(cohort, "user_id")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").cast("long").alias("day_offset"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


O_COHORT_RETENTION = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
cohort AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
SELECT cohort.cohort_day,
       CAST(datediff('day', cohort.cohort_day, ev.day) AS BIGINT) AS day_offset,
       CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
FROM ev JOIN cohort ON ev.user_id = cohort.user_id
GROUP BY 1, 2
"""


# ------------------------------------------------------- robust stats

def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust statistics through BOTH grouped Python
    UDF surfaces: median/MAD/outlier-count via applyInPandas and a
    geometric-mean pandas UDAF, joined into one row per group."""
    from data_ingestors_spark.operators.robust import geomean_by_group, mad_outlier_stats

    t = tables(spark, sf_dir, "events")
    ev = t["events"]
    mad = mad_outlier_stats(ev, "event_type", "value", k=3.0)
    gm = geomean_by_group(ev, "event_type", "value")
    return mad.join(gm, "event_type").select(
        "event_type",
        fround(F.col("med"), 6).alias("med"),
        fround(F.col("mad"), 6).alias("mad"),
        "n_outliers",
        fround(F.col("gm"), 6).alias("gm"),
    )


O_ROBUST_STATS = f"""
WITH s AS (
  SELECT event_type, median(value) AS med, mad(value) AS mad,
         exp(avg(ln(value))) AS gm
  FROM events GROUP BY 1
)
SELECT e.event_type,
       {o_fround("any_value(s.med)", 6)} AS med,
       {o_fround("any_value(s.mad)", 6)} AS mad,
       CAST(sum(CASE WHEN abs(e.value - s.med) > 3.0 * s.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       {o_fround("any_value(s.gm)", 6)} AS gm
FROM events e JOIN s ON e.event_type = s.event_type
GROUP BY e.event_type
"""


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch rollup (rows-only: Datasketches HLL has no
    DuckDB twin; the 5% accuracy envelope and merge-associativity are
    asserted in tests/test_operators.py): daily per-type sketches
    merged to per-type distinct-user estimates without re-scanning
    raw data."""
    from data_ingestors_spark.operators.sketches import (
        build_sketch_rollup,
        merge_sketch_rollup,
    )

    t = tables(spark, sf_dir, "events")
    ev = t["events"].select(F.to_date("ts").alias("day"), "user_id", "event_type")
    daily = build_sketch_rollup(ev, ["day", "event_type"], "user_id")
    return merge_sketch_rollup(daily, ["event_type"])


QUERIES = {
    "hll_rollup": q_hll_rollup,
    "robust_stats": q_robust_stats,
    "repetition_stats": q_repetition_stats,
    "embedding_centroids": q_embedding_centroids,
    "funnel_analysis": q_funnel_analysis,
    "cohort_retention": q_cohort_retention,
    "stats_aggs": q_stats_aggs,
    "regr_aggs": q_regr_aggs,
    "gap_fill": q_gap_fill,
    "unpivot_measures": q_unpivot_measures,
    "median_bool_aggs": q_median_bool_aggs,
    "bit_aggs": q_bit_aggs,
    "map_funcs": q_map_funcs,
    "map_hof": q_map_hof,
    "contamination_check": q_contamination_check,
    "tfidf_topk": q_tfidf_topk,
    "bm25_relevance": q_bm25_relevance,
    "dup_ngram_chars": q_dup_ngram_chars,
    "corpus_packing": q_corpus_packing,
    "rolling_anomaly": q_rolling_anomaly,
    "time_weighted_avg": q_time_weighted_avg,
}

ORACLES = {
    "robust_stats": O_ROBUST_STATS,
    "repetition_stats": O_REPETITION_STATS,
    "embedding_centroids": O_EMBEDDING_CENTROIDS,
    "funnel_analysis": O_FUNNEL_ANALYSIS,
    "cohort_retention": O_COHORT_RETENTION,
    "stats_aggs": O_STATS_AGGS,
    "regr_aggs": O_REGR_AGGS,
    "gap_fill": O_GAP_FILL,
    "unpivot_measures": O_UNPIVOT_MEASURES,
    "median_bool_aggs": O_MEDIAN_BOOL_AGGS,
    "bit_aggs": O_BIT_AGGS,
    "map_funcs": O_MAP_FUNCS,
    "map_hof": O_MAP_HOF,
    "contamination_check": O_CONTAMINATION_CHECK,
    "tfidf_topk": O_TFIDF_TOPK,
    "bm25_relevance": O_BM25_RELEVANCE,
    "dup_ngram_chars": O_DUP_NGRAM_CHARS,
    "corpus_packing": O_CORPUS_PACKING,
    "rolling_anomaly": O_ROLLING_ANOMALY,
    "time_weighted_avg": O_TIME_WEIGHTED_AVG,
}


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust corpus statistics: per source, the document
    length distribution winsorized at [p05, p95] — exact interpolated
    percentiles (one groupBy), then every doc's length clamped to the
    band and averaged decimal-exact. The robust mean a corpus-quality
    dashboard reports instead of the raw mean a few megadocs skew.

    Scale: percentile pass is one shuffle on source; the stats frame is
    |sources| rows and broadcasts back onto the fact scan, so the
    second pass is shuffle-free until its own groupBy — two narrow aggs
    total, no sort, no window over the corpus."""
    t = tables(spark, sf_dir, "documents")
    d = t["documents"]
    stats = d.groupBy("source").agg(
        F.percentile("n_chars", 0.05).alias("_p05"),
        F.percentile("n_chars", 0.95).alias("_p95"),
        F.count("*").cast("long").alias("_n"),
    )
    clamped = d.join(F.broadcast(stats), "source").withColumn(
        "_clamped",
        F.least(F.greatest(F.col("n_chars").cast("double"), F.col("_p05")), F.col("_p95")),
    )
    return clamped.groupBy("source").agg(
        F.min("_n").alias("n_docs"),
        fround(F.min("_p05"), 4).alias("p05"),
        fround(F.min("_p95"), 4).alias("p95"),
        davg(F.col("_clamped"), 4).alias("win_mean"),
    )


O_WINSORIZED_STATS = f"""
WITH stats AS (
  SELECT source,
         quantile_cont(n_chars, 0.05) AS _p05,
         quantile_cont(n_chars, 0.95) AS _p95,
         CAST(count(*) AS BIGINT) AS _n
  FROM documents GROUP BY source
)
SELECT d.source,
       min(_n) AS n_docs,
       {o_fround("min(_p05)", 4)} AS p05,
       {o_fround("min(_p95)", 4)} AS p95,
       {o_davg("least(greatest(CAST(n_chars AS DOUBLE), _p05), _p95)", 4)} AS win_mean
FROM documents d JOIN stats USING (source)
GROUP BY d.source
"""

QUERIES["winsorized_stats"] = q_winsorized_stats
ORACLES["winsorized_stats"] = O_WINSORIZED_STATS


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over order baskets: the 20 part pairs most
    often ordered together, with support and lift. Per-order distinct
    items self-join on the order key — fan-out is O(k²) in basket size
    (k ≈ 4-7 here), never corpus-quadratic — then one groupBy counts
    pair support. Lift joins the tiny per-part support frame
    (broadcast) onto the already-limited top-k only.

    Ranked by (support desc, part_a, part_b) — the unique tiebreaker
    chain makes the selected set deterministic across engines.

    Broadcast side: ``top`` is the 20-row frame, so IT is the broadcast
    side of the lift joins and the O(|parts|) ``support`` frame streams
    — at 100 TB ``support`` has one row per distinct part (hundreds of
    millions) and broadcasting it would OOM the driver.

    Whale guard: baskets above
    :data:`operators.baskets.MAX_BASKET_ITEMS` are dropped before the
    O(k²) fan-out (never fires on sane data — see the constant's
    doc)."""
    t = tables(spark, sf_dir, "lineitem")
    items = cap_baskets(
        t["lineitem"].select("l_orderkey", "l_partkey").distinct(), "l_orderkey"
    )
    top = (
        basket_pairs(items, "l_orderkey", "l_partkey")
        .select(
            F.col("item_a").alias("part_a"), F.col("item_b").alias("part_b"), "n_both"
        )
        .orderBy(F.desc("n_both"), "part_a", "part_b")
        .limit(20)
    )
    support = items.groupBy("l_partkey").agg(F.count("*").cast("long").alias("n_part"))
    # corpus total as a 1-row broadcast scalar frame, not a driver action
    total = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    with_a = (
        support.withColumnRenamed("l_partkey", "part_a")
        .join(F.broadcast(top), "part_a")
        .withColumnRenamed("n_part", "n_a")
    )
    return (
        support.withColumnRenamed("l_partkey", "part_b")
        .join(F.broadcast(with_a), "part_b")
        .withColumnRenamed("n_part", "n_b")
        .crossJoin(F.broadcast(total))
        .select(
            "part_a",
            "part_b",
            "n_both",
            fround(
                F.col("n_both")
                * F.col("n_orders").cast("double")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


O_COPURCHASE_PAIRS = f"""
WITH items AS (
  -- mirror MAX_BASKET_ITEMS: Spark drops whale baskets before the fan-out
  SELECT l_orderkey, l_partkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= {MAX_BASKET_ITEMS}
), top AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  ORDER BY n_both DESC, part_a, part_b
  LIMIT 20
), support AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part FROM items GROUP BY 1
), total AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM items
)
SELECT part_a, part_b, n_both,
       {o_fround("n_both * CAST(n_orders AS DOUBLE) / (sa.n_part * sb.n_part)", 6)} AS lift
FROM top
JOIN support sa ON sa.l_partkey = part_a
JOIN support sb ON sb.l_partkey = part_b
CROSS JOIN total
"""

QUERIES["copurchase_pairs"] = q_copurchase_pairs
ORACLES["copurchase_pairs"] = O_COPURCHASE_PAIRS


def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each source's word distribution — the
    corpus-diversity signal that separates a template farm (low
    entropy) from organic text. Two shuffles: word counts per
    (source, word), then a decimal-exact fold of -p·log2(p) per
    source. Nothing is collected; the per-source vocabulary rides the
    same agg."""
    t = tables(spark, sf_dir, "documents")
    words = t["documents"].select(
        "source",
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
    )
    counts = words.groupBy("source", "w").agg(F.count("*").alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t")
    term = -p * F.log2(p)
    return (
        counts.join(F.broadcast(totals), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_vocab"),
            F.max("t").cast("long").alias("n_tokens"),
            fround(F.sum(term.cast("decimal(30,10)")).cast("double"), 6).alias(
                "entropy_bits"
            ),
        )
    )


O_SOURCE_ENTROPY = f"""
WITH words AS (
  SELECT source,
         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
  FROM documents
), words_f AS (
  SELECT source, w FROM words WHERE w <> ''
), counts AS (
  SELECT source, w, count(*) AS c FROM words_f GROUP BY 1, 2
), totals AS (
  SELECT source, sum(c) AS t FROM counts GROUP BY 1
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_vocab,
       CAST(max(t) AS BIGINT) AS n_tokens,
       {o_fround("CAST(sum(CAST(-(c / CAST(t AS DOUBLE)) * log2(c / CAST(t AS DOUBLE)) AS DECIMAL(30,10))) AS DOUBLE)", 6)} AS entropy_bits
FROM counts JOIN totals USING (source)
GROUP BY source
"""

QUERIES["source_entropy"] = q_source_entropy
ORACLES["source_entropy"] = O_SOURCE_ENTROPY


def q_dup_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The line/paragraph half of Gopher's repetition table (Rae et
    al. 2021 A1.1; dup_ngram_chars + repetition_stats cover the
    n-gram half): per document, the fraction of line occurrences that
    are duplicates of another line IN THE SAME DOC, the char-weighted
    variant the published thresholds use, and the same two measures
    over paragraphs (blank-line-separated). Empty lines are ignored;
    documents with no non-empty line are absent.

    Shape: two bounded explodes (lines, paragraphs), each reduced by
    a combiner-friendly groupBy keyed on doc_id — per-doc work never
    leaves the doc key, so there is no hot-text skew by construction
    — then one tiny per-doc join (AQE broadcasts)."""
    t = tables(spark, sf_dir, "documents")
    docs = t["documents"]

    def side(pattern: str, prefix: str) -> DataFrame:
        parts = F.filter(
            F.transform(F.split("text", pattern), lambda p: F.trim(p)),
            lambda p: p != "",
        )
        per = (
            docs.select("doc_id", F.explode(parts).alias("p"))
            .groupBy("doc_id", "p")
            .agg(F.count("*").alias("c"), F.length("p").alias("chars"))
        )
        return per.groupBy("doc_id").agg(
            F.sum("c").cast("long").alias(f"n_{prefix}"),
            fround(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
                / F.sum("c"),
                6,
            ).alias(f"dup_{prefix}_frac"),
            fround(
                F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("chars")).otherwise(0))
                / F.sum(F.col("c") * F.col("chars")),
                6,
            ).alias(f"dup_{prefix}_char_frac"),
        )

    return side(r"\n", "line").join(side(r"\n{2,}", "para"), "doc_id")


O_DUP_LINE_STATS = f"""
WITH lines AS (
  SELECT doc_id, trim(p) AS p
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS p FROM documents)
  WHERE trim(p) <> ''
), per_l AS (
  SELECT doc_id, p, count(*) AS c, length(p) AS chars FROM lines GROUP BY 1, 2
), agg_l AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_line,
         {o_fround("CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c)", 6)} AS dup_line_frac,
         {o_fround("CAST(sum(CASE WHEN c > 1 THEN c * chars ELSE 0 END) AS DOUBLE) / sum(c * chars)", 6)} AS dup_line_char_frac
  FROM per_l GROUP BY doc_id
), paras AS (
  SELECT doc_id, trim(p) AS p
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\n{{2,}}')) AS p FROM documents)
  WHERE trim(p) <> ''
), per_p AS (
  SELECT doc_id, p, count(*) AS c, length(p) AS chars FROM paras GROUP BY 1, 2
), agg_p AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_para,
         {o_fround("CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c)", 6)} AS dup_para_frac,
         {o_fround("CAST(sum(CASE WHEN c > 1 THEN c * chars ELSE 0 END) AS DOUBLE) / sum(c * chars)", 6)} AS dup_para_char_frac
  FROM per_p GROUP BY doc_id
)
SELECT doc_id, n_line, dup_line_frac, dup_line_char_frac,
       n_para, dup_para_frac, dup_para_char_frac
FROM agg_l JOIN agg_p USING (doc_id)
"""

QUERIES["dup_line_stats"] = q_dup_line_stats
ORACLES["dup_line_stats"] = O_DUP_LINE_STATS


def q_mad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    measure outlier detection uses when stddev is poisoned by the
    outliers themselves. Exact interpolated medians (Spark
    `percentile`, DuckDB `median` — same average-of-middle-two rule):
    one groupBy for the per-group median, a broadcast join back, one
    groupBy for the median of |x − med|. Both shuffles are on the
    small group key; the join back broadcasts the per-group medians
    frame (one row per group)."""
    t = tables(spark, sf_dir, "orders")
    o = t["orders"]
    med = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    return (
        o.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            fround(F.first("med"), 4).alias("median_price"),
            fround(
                F.expr("percentile(abs(o_totalprice - med), 0.5)"), 4
            ).alias("mad_price"),
        )
    )


O_MAD_STATS = f"""
WITH med AS (
  SELECT o_orderpriority, median(o_totalprice) AS med
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_fround("min(med)", 4)} AS median_price,
       {o_fround("median(abs(o_totalprice - med))", 4)} AS mad_price
FROM orders o JOIN med USING (o_orderpriority)
GROUP BY o.o_orderpriority
"""

QUERIES["mad_stats"] = q_mad_stats
ORACLES["mad_stats"] = O_MAD_STATS


def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: the most frequent order priority
    per customer market segment, ties broken by the smallest value —
    engine-portable by construction (native mode() functions break
    ties arbitrarily, so the count + rank formulation IS the portable
    operator). Counts are one partial-aggregated groupBy; the rank
    window rides the tiny (segment, priority) count frame."""
    t = tables(spark, sf_dir, "customer", "orders")
    counts = (
        t["orders"]
        .join(t["customer"], t["orders"].o_custkey == t["customer"].c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("n_orders"),
        )
    )


O_MODE_PER_GROUP = """
WITH counts AS (
  SELECT c_mktsegment, o_orderpriority, CAST(count(*) AS BIGINT) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY n DESC, o_orderpriority) AS rnk
  FROM counts
)
SELECT c_mktsegment, o_orderpriority AS mode_priority, n AS n_orders
FROM ranked WHERE rnk = 1
"""

QUERIES["mode_per_group"] = q_mode_per_group
ORACLES["mode_per_group"] = O_MODE_PER_GROUP


def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped string aggregation (LISTAGG / string_agg): per order
    priority, the sorted comma-joined distinct order statuses plus
    their count. Engine-portable ONLY because the order is forced:
    collect_set carries no order, so sort_array + array_join pins it
    (the same reason the DuckDB oracle needs ORDER BY inside
    string_agg). collect_set keeps the per-group state bounded by the
    distinct-value count — fine for low-cardinality payloads, and the
    distinct-first shape to use when it is not."""
    t = tables(spark, sf_dir, "orders")
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("o_orderstatus")), ","
            ).alias("statuses"),
            F.count_distinct("o_orderstatus").cast("long").alias("n_statuses"),
        )
    )


O_GROUP_CONCAT = """
SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
FROM orders GROUP BY o_orderpriority
"""

QUERIES["group_concat"] = q_group_concat
ORACLES["group_concat"] = O_GROUP_CONCAT


# -------------------------------------------------------- snapshot diff

def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style diff between two per-user activity snapshots (first
    20 vs last 21 days of the event window, overlapping): which users
    appeared, disappeared, or changed volume — the incremental-ingest
    reconciliation primitive (operators/joins.py:keyed_diff).

    Plan: each snapshot is one partial-aggregated groupBy with the
    date filter pushed to the scan; the diff is ONE full outer join on
    the snapshot key. Snapshots written bucketed by the key make the
    join exchange-free at scale.
    """
    from data_ingestors_spark.operators.joins import keyed_diff

    t = tables(spark, sf_dir, "events")

    def snap(pred):
        return (
            t["events"]
            .filter(pred)
            .groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_events"))
        )

    old = snap(F.col("ts") < F.lit("2024-01-21").cast("timestamp"))
    new = snap(F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
    return keyed_diff(old, new, ["user_id"], ["n_events"])


O_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS old_n_events
  FROM events WHERE ts < TIMESTAMP '2024-01-21' GROUP BY 1
), new AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS new_n_events
  FROM events WHERE ts >= TIMESTAMP '2024-01-10' GROUP BY 1
)
SELECT COALESCE(old.user_id, new.user_id) AS user_id,
       CASE WHEN old.user_id IS NULL THEN 'added'
            WHEN new.user_id IS NULL THEN 'removed'
            WHEN old_n_events IS DISTINCT FROM new_n_events THEN 'modified'
            ELSE 'unchanged' END AS status,
       old_n_events, new_n_events
FROM old FULL OUTER JOIN new ON old.user_id = new.user_id
"""

QUERIES["snapshot_diff"] = q_snapshot_diff
ORACLES["snapshot_diff"] = O_SNAPSHOT_DIFF


# ------------------------------------------- windowed (timed) funnel

_FUNNEL_GAP_S = 86400  # each step within 1 day of the previous


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel view -> click -> purchase where each
    step happens within 1 day of the previous step. Unlike the greedy
    first-event funnel ([funnel_analysis]), a windowed funnel must
    consider EVERY candidate chain — a later view can start a
    completing sequence after the first view's window expired — so the
    exact form is the per-user chain join: equi-join on user_id with
    range predicates, per-user cost O(k^2) in that user's event count,
    never corpus-quadratic. Earliest completion per user, then one
    aggregate row.
    """
    t = tables(spark, sf_dir, "events")
    ev = t["events"]

    def stage(etype, a, b, c):
        return ev.filter(F.col("event_type") == etype).select(
            F.col("user_id").alias(a), F.col("ts").alias(b), F.col("event_id").alias(c)
        )

    v = stage("view", "uv", "v_ts", "v_id")
    c = stage("click", "uc", "c_ts", "c_id")
    p = stage("purchase", "up", "p_ts", "p_id")
    gap = F.lit(_FUNNEL_GAP_S)
    chains = (
        v.join(c, (F.col("uv") == F.col("uc"))
               & (F.col("c_ts") > F.col("v_ts"))
               & (F.col("c_ts").cast("double") - F.col("v_ts").cast("double") <= gap))
        .join(p, (F.col("uv") == F.col("up"))
              & (F.col("p_ts") > F.col("c_ts"))
              & (F.col("p_ts").cast("double") - F.col("c_ts").cast("double") <= gap))
    )
    per_user = chains.groupBy(F.col("uv").alias("user_id")).agg(
        F.min(
            F.col("p_ts").cast("double") - F.col("v_ts").cast("double")
        ).alias("fastest_s")
    )
    return per_user.agg(
        F.count("*").cast("long").alias("n_converted"),
        fround(
            F.sum(F.col("fastest_s").cast(DEC)).cast("double") / F.count("*"), 4
        ).alias("avg_fastest_s"),
    )


O_FUNNEL_WINDOWED = f"""
WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
chains AS (
  SELECT v.user_id,
         date_diff('microsecond', v.ts, p.ts) / 1000000.0 AS dur_s
  FROM v
  JOIN c ON c.user_id = v.user_id AND c.ts > v.ts
        AND date_diff('microsecond', v.ts, c.ts) / 1000000.0 <= {_FUNNEL_GAP_S}
  JOIN p ON p.user_id = v.user_id AND p.ts > c.ts
        AND date_diff('microsecond', c.ts, p.ts) / 1000000.0 <= {_FUNNEL_GAP_S}
), per_user AS (
  SELECT user_id, min(dur_s) AS fastest_s FROM chains GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       {o_fround("CAST(sum(CAST(fastest_s AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 4)} AS avg_fastest_s
FROM per_user
"""

QUERIES["funnel_windowed"] = q_funnel_windowed
ORACLES["funnel_windowed"] = O_FUNNEL_WINDOWED


def q_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: each purchase's value credited to the
    clicks in the prior 24 h under three standard models — last-touch
    (most recent click takes all), first-touch, and linear (split
    evenly) — reported as attributed revenue per click DAY. The
    channel-attribution shape with day standing in for channel.

    Plan: candidate (purchase, click) pairs are the same per-user
    bounded chain join as [funnel_windowed]; model weights are one
    row_number window per purchase (frame = that purchase's clicks)
    plus a count — then one union and one decimal-summed groupBy.
    """
    t = tables(spark, sf_dir, "events")
    ev = t["events"]
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"), F.col("value").alias("p_val"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    pairs = p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("p_ts").cast("double") - F.col("c_ts").cast("double") <= 86400),
    )
    w_desc = Window.partitionBy("p_id").orderBy(F.desc("c_ts"), F.desc("c_id"))
    w_asc = Window.partitionBy("p_id").orderBy(F.asc("c_ts"), F.asc("c_id"))
    n_w = Window.partitionBy("p_id")
    pairs = (
        pairs.withColumn("rn_last", F.row_number().over(w_desc))
        .withColumn("rn_first", F.row_number().over(w_asc))
        .withColumn("n_clicks", F.count("*").over(n_w))
    )
    day = F.to_date("c_ts").alias("click_day")
    last = pairs.filter(F.col("rn_last") == 1).select(
        F.lit("last_touch").alias("model"), day, F.col("p_val").alias("credit")
    )
    first = pairs.filter(F.col("rn_first") == 1).select(
        F.lit("first_touch").alias("model"), day, F.col("p_val").alias("credit")
    )
    linear = pairs.select(
        F.lit("linear").alias("model"),
        day,
        (F.col("p_val") / F.col("n_clicks")).alias("credit"),
    )
    return (
        last.unionByName(first)
        .unionByName(linear)
        .groupBy("model", "click_day")
        .agg(
            fround(F.sum(F.col("credit").cast(DEC)).cast("double"), 4).alias("attributed"),
            F.count("*").cast("long").alias("n_credits"),
        )
    )


O_ATTRIBUTION_MODELS = f"""
WITH p AS (
  SELECT user_id pu, ts p_ts, event_id p_id, value p_val
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id cu, ts c_ts, event_id c_id FROM events WHERE event_type = 'click'
), pairs AS (
  SELECT *,
         row_number() OVER (PARTITION BY p_id ORDER BY c_ts DESC, c_id DESC) AS rn_last,
         row_number() OVER (PARTITION BY p_id ORDER BY c_ts, c_id) AS rn_first,
         count(*) OVER (PARTITION BY p_id) AS n_clicks
  FROM p JOIN c ON pu = cu AND c_ts < p_ts
     AND date_diff('microsecond', c_ts, p_ts) / 1000000.0 <= 86400
), credits AS (
  SELECT 'last_touch' AS model, CAST(c_ts AS DATE) AS click_day, p_val AS credit
  FROM pairs WHERE rn_last = 1
  UNION ALL
  SELECT 'first_touch', CAST(c_ts AS DATE), p_val FROM pairs WHERE rn_first = 1
  UNION ALL
  SELECT 'linear', CAST(c_ts AS DATE), p_val / n_clicks FROM pairs
)
SELECT model, click_day,
       {o_fround("CAST(sum(CAST(credit AS DECIMAL(30,10))) AS DOUBLE)", 4)} AS attributed,
       CAST(count(*) AS BIGINT) AS n_credits
FROM credits GROUP BY model, click_day
"""

QUERIES["attribution_models"] = q_attribution_models
ORACLES["attribution_models"] = O_ATTRIBUTION_MODELS


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers scored into quartiles on Recency
    (days since last order), Frequency (order count), and Monetary
    (total spend), then counted per (r, f, m) segment — the classic
    customer-base health grid.

    Plan: one partial-aggregated groupBy builds the per-customer RFM
    triple; each quartile is an ntile window over the CUSTOMER frame
    (one row per customer, not per order) ordered with an explicit
    key tiebreak so the quartile assignment is engine-deterministic;
    the final segment count is another combiner-friendly groupBy.
    """
    t = tables(spark, sf_dir, "orders")
    rfm = t["orders"].groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("long").alias("freq"),
        dsum(F.col("o_totalprice")).alias("spend"),
    )
    wr = Window.orderBy(F.desc("last_order"), F.asc("cust"))   # recent = best
    wf = Window.orderBy(F.desc("freq"), F.asc("cust"))
    wm = Window.orderBy(F.desc("spend"), F.asc("cust"))
    scored = (
        rfm.withColumn("r", F.ntile(4).over(wr))
        .withColumn("f", F.ntile(4).over(wf))
        .withColumn("m", F.ntile(4).over(wm))
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").cast("long").alias("n_customers"),
        fround(F.sum(F.col("spend").cast(DEC)).cast("double"), 2).alias("segment_spend"),
    )


O_RFM_SEGMENTS = f"""
WITH rfm AS (
  SELECT o_custkey AS cust,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS freq,
         {o_dsum("o_totalprice")} AS spend
  FROM orders GROUP BY 1
), scored AS (
  SELECT cust, spend,
         ntile(4) OVER (ORDER BY last_order DESC, cust) AS r,
         ntile(4) OVER (ORDER BY freq DESC, cust) AS f,
         ntile(4) OVER (ORDER BY spend DESC, cust) AS m
  FROM rfm
)
SELECT r, f, m,
       CAST(count(*) AS BIGINT) AS n_customers,
       {o_fround("CAST(sum(CAST(spend AS DECIMAL(30,10))) AS DOUBLE)", 2)} AS segment_spend
FROM scored GROUP BY r, f, m
"""

QUERIES["rfm_segments"] = q_rfm_segments
ORACLES["rfm_segments"] = O_RFM_SEGMENTS


