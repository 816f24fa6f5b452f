"""Statistical screens and association analytics (split from
queries/analytics.py in r10 — registry names unchanged): KL drift,
Benford digits, CUSUM changepoints, Kaplan-Meier survival, Gini
concentration, item-item cosine, Spearman rank correlation,
vocabulary overlap, period-over-period deltas, decile lift,
byte-level corpus audit, shipping latency SLA, cohort LTV,
time-decayed trends, frequent 3-itemsets, association rules, WOE/IV
encoding, seasonality strength, repeat-purchase cadence, brand-share
shift.

Same conventions as queries/__init__; the basket-density cap and the
pair fan-out come from operators.baskets.
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

QUERIES: dict = {}
ORACLES: dict = {}


def q_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus drift: KL(P_source || P_corpus) in bits over
    word distributions — the CCNet/RedPajama-style signal for "this
    source's language diverges from the mixture" (high KL = niche or
    degenerate source worth inspecting before training).

    No smoothing is needed: the corpus distribution is the superset
    mixture, so every source word has corpus mass > 0.

    Plan (100 TB): word counts per (source, word) and per word are
    both map-side-combined groupBys; the counts-to-corpus join is a
    word-keyed equi-join carrying only (source, w, c) — document text
    never shuffles. Source totals (|sources| rows) and the corpus
    total (1 row) ride broadcasts. KL terms fold in decimal so the
    sum is merge-order-exact across engines.
    """
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
    corpus = counts.groupBy("w").agg(F.sum("c").alias("cc"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("t"))
    total = corpus.agg(F.sum("cc").alias("tt"))  # 1-row scalar frame
    p_s = F.col("c") / F.col("t")
    ratio = (F.col("c") * F.col("tt")) / (F.col("t") * F.col("cc"))
    term = p_s * F.log2(ratio)
    return (
        counts.join(corpus, "w")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.max("t").cast("long").alias("n_tokens"),
            fround(F.sum(term.cast(DEC)).cast("double"), 6).alias("kl_bits"),
        )
    )


O_KL_DRIFT = f"""
WITH words AS (
  SELECT source,
         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
  FROM documents
), words_f AS (
  SELECT source, w FROM words WHERE w <> ''
), counts AS (
  SELECT source, w, count(*) AS c FROM words_f GROUP BY 1, 2
), corpus AS (
  SELECT w, sum(c) AS cc FROM counts GROUP BY 1
), totals AS (
  SELECT source, sum(c) AS t FROM counts GROUP BY 1
), total AS (
  SELECT sum(cc) AS tt FROM corpus
)
SELECT source,
       CAST(max(t) AS BIGINT) AS n_tokens,
       {o_fround("CAST(sum(CAST((c / CAST(t AS DOUBLE)) * log2((c * CAST(tt AS DOUBLE)) / (CAST(t AS DOUBLE) * cc)) AS DECIMAL(30,10))) AS DOUBLE)", 6)} AS kl_bits
FROM counts
JOIN corpus USING (w)
JOIN totals USING (source)
CROSS JOIN total
GROUP BY source
"""

QUERIES["kl_drift"] = q_kl_drift
ORACLES["kl_drift"] = O_KL_DRIFT


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed first-significant-
    digit distribution vs log10(1 + 1/d), with each digit's chi-square
    contribution — the classic synthetic-data / fraud smell test.

    The first digit comes from the DECIMAL STRING of floor(x), not
    floor(x / 10^floor(log10 x)) — the string form sidesteps the
    engine-dependent log10 ulp at exact powers of ten.

    Plan (100 TB): one map-side-combined groupBy onto 9 digit rows;
    the row count rides a 1-row broadcast scalar frame.
    """
    t = tables(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = (
        t["orders"]
        .filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    total = obs.agg(F.sum("n_obs").cast("double").alias("n"))  # 1-row scalar
    p_exp = F.log10(1 + 1 / F.col("digit").cast("double"))
    expected = F.col("n") * p_exp
    return (
        obs.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            fround(F.col("n_obs") / F.col("n"), 6).alias("p_obs"),
            fround(p_exp, 6).alias("p_exp"),
            fround(
                (F.col("n_obs") - expected) * (F.col("n_obs") - expected) / expected,
                4,
            ).alias("chi2_term"),
        )
    )


O_BENFORD_DIGITS = f"""
WITH obs AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
), total AS (
  SELECT CAST(sum(n_obs) AS DOUBLE) AS n FROM obs
)
SELECT digit, n_obs,
       {o_fround("n_obs / n", 6)} AS p_obs,
       {o_fround("log10(1 + 1 / CAST(digit AS DOUBLE))", 6)} AS p_exp,
       {o_fround("(n_obs - n * log10(1 + 1 / CAST(digit AS DOUBLE))) * (n_obs - n * log10(1 + 1 / CAST(digit AS DOUBLE))) / (n * log10(1 + 1 / CAST(digit AS DOUBLE)))", 4)} AS chi2_term
FROM obs CROSS JOIN total
"""

QUERIES["benford_digits"] = q_benford_digits
ORACLES["benford_digits"] = O_BENFORD_DIGITS


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: standardize the
    daily-count series, cumulative-sum the z-scores, and flag the day
    where |CUSUM| peaks — a level shift in event volume shows up as
    the peak of the drift walk (Page 1954).

    Engine-exactness: mean/std are derived from INTEGER (n, Σc, Σc²)
    aggregates, so both engines compute bit-identical doubles; the
    running CUSUM folds in decimal so DuckDB's segment-tree window
    accumulation and Spark's running fold agree exactly.

    Plan (100 TB): raw events collapse to one row per (type, day) in
    a map-side-combined groupBy; every window after that is
    partitioned by event_type over the bounded daily frame (rows =
    days in span, not events).
    """
    t = tables(spark, sf_dir, "events")
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("c") - mean) / F.sqrt(var)
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walked = (
        daily.join(F.broadcast(stats), "event_type")
        .withColumn("cusum", F.sum(z.cast(DEC)).over(w_cum))
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum"))), F.asc("day")
    )
    return (
        walked.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("n").alias("n_days"),
            fround(F.abs(F.col("cusum")).cast("double"), 4).alias("peak_cusum"),
        )
    )


O_CUSUM_CHANGEPOINT = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM daily GROUP BY 1
), walked AS (
  SELECT d.event_type, d.day, s.n,
         sum(CAST((d.c - s.s1 / CAST(s.n AS DOUBLE))
                  / sqrt((s.s2 - s.s1 * CAST(s.s1 AS DOUBLE) / s.n) / (s.n - 1))
                  AS DECIMAL(30,10)))
           OVER (PARTITION BY d.event_type ORDER BY d.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM daily d JOIN stats s USING (event_type)
), picked AS (
  SELECT event_type, day, n, cusum,
         row_number() OVER (PARTITION BY event_type ORDER BY abs(cusum) DESC, day) AS rn
  FROM walked
)
SELECT event_type, day AS change_day, n AS n_days,
       {o_fround("CAST(abs(cusum) AS DOUBLE)", 4)} AS peak_cusum
FROM picked WHERE rn = 1
"""

QUERIES["cusum_changepoint"] = q_cusum_changepoint
ORACLES["cusum_changepoint"] = O_CUSUM_CHANGEPOINT


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier customer-survival curve: duration = days between a
    customer's first and last order; a customer whose last order falls
    more than 90 days before the corpus horizon is an observed churn
    (event), later ones are right-censored. S(t) multiplies
    (1 - d_t / n_t) over event times <= t — the standard estimator
    with censoring handled exactly.

    Engine-exactness: each ln term is quantized with the
    engine-portable ``fround(term, 8)`` BEFORE the decimal cast —
    ``ln`` is not correctly-rounded, so raw ``CAST(double AS
    DECIMAL)`` sits on the repr-vs-binary knife edge
    (``functions/rounding.py``) AND inherits cross-box libm/JVM
    ±1-ulp jitter; fround performs identical IEEE ops in both
    engines and the resulting k/1e8 double quantizes identically to
    DECIMAL(30,10) on both sides. The quantized terms then fold in
    decimal under the ordered window (exp of an exact decimal sum),
    so segment-tree vs running-fold accumulation cannot diverge.
    The oracle casts ``n_risk`` to BIGINT explicitly: a bare window
    ``sum(BIGINT)`` is HUGEINT in DuckDB — the r11 driver-hash
    mismatch was this int128 surviving to the output column, where
    value-conversion paths (fetchall→int vs pandas/arrow→float64)
    disagree across harnesses; tests/test_oracle_portability.py now
    sweeps every registered oracle for exotic output types.

    Plan (100 TB): per-customer first/last collapse map-side; the KM
    table itself is one row per distinct duration-day (bounded by the
    date span, thousands not billions), so the single-partition
    ordered window rides a frame that is small BY CONSTRUCTION —
    at extreme spans switch the cumulative terms to a range-join
    rollup. Doctor: D2-exempt for exactly that reason.
    """
    t = tables(spark, sf_dir, "orders")
    horizon = t["orders"].agg(
        F.date_sub(F.max(F.to_date("o_orderdate")), 90).alias("cutoff")
    )  # 1-row scalar frame
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.min(F.to_date("o_orderdate")).alias("first_d"),
            F.max(F.to_date("o_orderdate")).alias("last_d"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("last_d", "first_d").alias("dur"),
            F.when(F.col("last_d") < F.col("cutoff"), 1).otherwise(0).alias("event"),
        )
    )
    by_dur = per_cust.groupBy("dur").agg(
        F.sum("event").cast("long").alias("d"),
        F.count("*").cast("long").alias("m"),
    )
    total = by_dur.agg(F.sum("m").cast("long").alias("tot"))  # 1-row scalar
    w_prev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = F.col("tot") - F.coalesce(F.sum("m").over(w_prev), F.lit(0))
    stepped = (
        by_dur.crossJoin(F.broadcast(total))
        .withColumn("n_risk", at_risk)
        .withColumn(
            "log_s",
            F.sum(
                fround(F.log(1 - F.col("d") / F.col("n_risk")), 8).cast(DEC)
            ).over(w_cum),
        )
    )
    return stepped.filter(F.col("d") > 0).select(
        F.col("dur").alias("duration_days"),
        "n_risk",
        F.col("d").alias("n_events"),
        fround(F.exp(F.col("log_s").cast("double")), 6).alias("survival"),
    )


O_SURVIVAL_KM = f"""
WITH horizon AS (
  SELECT max(CAST(o_orderdate AS DATE)) - 90 AS cutoff FROM orders
), per_cust AS (
  SELECT date_diff('day', min(CAST(o_orderdate AS DATE)), max(CAST(o_orderdate AS DATE))) AS dur,
         CASE WHEN max(CAST(o_orderdate AS DATE)) < (SELECT cutoff FROM horizon)
              THEN 1 ELSE 0 END AS event
  FROM orders GROUP BY o_custkey
), by_dur AS (
  SELECT dur, CAST(sum(event) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS m
  FROM per_cust GROUP BY dur
), total AS (
  SELECT CAST(sum(m) AS BIGINT) AS tot FROM by_dur
), risked AS (
  SELECT dur, d,
         CAST(tot - coalesce(sum(m) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM by_dur CROSS JOIN total
), stepped AS (
  SELECT dur, d, n_risk,
         sum(CAST({o_fround("ln(1 - d / CAST(n_risk AS DOUBLE))", 8)} AS DECIMAL(30,10)))
           OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS log_s
  FROM risked
)
SELECT CAST(dur AS INTEGER) AS duration_days, n_risk, d AS n_events,
       {o_fround("exp(CAST(log_s AS DOUBLE))", 6)} AS survival
FROM stepped WHERE d > 0
"""

QUERIES["survival_km"] = q_survival_km
ORACLES["survival_km"] = O_SURVIVAL_KM


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer-spend concentration per nation —
    the inequality lens on revenue: 0 = every customer spends alike,
    1 = one whale funds the nation. Uses the ranked-cumulative form
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over per-customer spend sorted
    ascending (rank ties broken by customer key so both engines rank
    identically).

    Plan (100 TB): per-customer spend is a map-side-combined groupBy;
    the rank window partitions by NATION over the per-customer frame
    (customers per nation, not orders); the final fold is another
    combiner-friendly groupBy. Spend sums fold in decimal so rank
    inputs are engine-exact.
    """
    t = tables(spark, sf_dir, "orders", "customer", "nation")
    spend = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("spend"))
        .join(
            t["customer"].select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                t["nation"].select(
                    F.col("n_nationkey").alias("c_nationkey"), "n_name"
                )
            ),
            "c_nationkey",
        )
    )
    w = Window.partitionBy("n_name").orderBy(F.asc("spend"), F.asc("o_custkey"))
    ranked = spend.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum(F.col("i") * F.col("spend")).cast("double").alias("iws"),
            F.sum("spend").cast("double").alias("s"),
        )
        .select(
            "n_name",
            "n_customers",
            # ratio in DOUBLE from the exact decimal sums — decimal
            # division truncates scale differently per engine
            fround(
                2 * F.col("iws") / (F.col("n_customers") * F.col("s"))
                - (F.col("n_customers") + 1) / F.col("n_customers").cast("double"),
                6,
            ).alias("gini"),
        )
    )


O_GINI_CONCENTRATION = f"""
WITH spend AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(30,10))) AS spend
  FROM orders GROUP BY 1
), tagged AS (
  SELECT n_name, o_custkey, spend
  FROM spend
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
), ranked AS (
  SELECT n_name, spend,
         row_number() OVER (PARTITION BY n_name ORDER BY spend ASC, o_custkey ASC) AS i
  FROM tagged
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       {o_fround("2 * CAST(sum(i * spend) AS DOUBLE) / (count(*) * CAST(sum(spend) AS DOUBLE)) - (count(*) + 1) / CAST(count(*) AS DOUBLE)", 6)} AS gini
FROM ranked
GROUP BY n_name
"""

QUERIES["gini_concentration"] = q_gini_concentration
ORACLES["gini_concentration"] = O_GINI_CONCENTRATION


def q_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity over the
    binary customer×part purchase matrix, top-5 neighbors per part
    among pairs co-bought by ≥ 2 customers — the classic "customers
    who bought X also bought Y" neighborhood model.

    cos(a,b) = |A∩B| / √(|A|·|B|) on customer sets, computed from
    pair co-occurrence counts — no vectors materialize.

    Plan (100 TB): distinct (customer, part) collapses map-side; the
    pair fan-out self-joins per CUSTOMER basket (O(k²) in basket
    size, never corpus-quadratic; degenerate whale baskets are
    DROPPED by the enforced :data:`operators.baskets.MAX_BASKET_ITEMS`
    cap — the guard the r7 docstring only promised); per-part
    popularity joins stream on the part key — both sides are
    |parts|-sized, no broadcast. The top-5 window partitions by part.
    Co-count ≥ 2 prunes the pair tail before any join."""
    from data_ingestors_spark.operators.dedup import _materialize

    t = tables(spark, sf_dir, "lineitem", "orders")
    # r12-opt (guide §2.4): bought (fact-fact join + distinct + cap
    # window) feeds THREE branches (self-join a/b + pop) — unpersisted
    # the plan re-ran the lineitem⨝orders join per branch (16 parquet
    # scans in plans/r12/item_cosine_before.txt). Materialize once;
    # the (custkey, partkey) pairs are two longs per row at any scale
    # and the cache is read back by every branch.
    bought = _materialize(
        cap_baskets(
            t["lineitem"]
            .join(t["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"), "l_orderkey")
            .select("o_custkey", "l_partkey")
            .distinct(),
            "o_custkey",
        )
    )
    co = basket_pairs(bought, "o_custkey", "l_partkey", min_support=2).select(
        F.col("item_a").alias("part_a"), F.col("item_b").alias("part_b"), "n_both"
    )
    pop = bought.groupBy(F.col("l_partkey")).agg(
        F.count("*").cast("long").alias("n")
    )
    scored = (
        co.join(pop.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a")), "part_a")
        .join(pop.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b")), "part_b")
        .withColumn(
            "cosine",
            fround(
                F.col("n_both") / F.sqrt(F.col("n_a") * F.col("n_b").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.desc("cosine"), F.desc("n_both"), F.asc("part_b")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("part_a", "part_b", "n_both", "cosine", F.col("rnk").cast("int").alias("rnk"))
    )


O_ITEM_COSINE = f"""
WITH bought AS (
  -- mirror MAX_BASKET_ITEMS: Spark drops whale baskets before the fan-out
  SELECT o_custkey, l_partkey
  FROM (SELECT DISTINCT o_custkey, l_partkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
  QUALIFY count(*) OVER (PARTITION BY o_custkey) <= {MAX_BASKET_ITEMS}
), co AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM bought a JOIN bought b
    ON a.o_custkey = b.o_custkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
), pop AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM bought GROUP BY 1
), scored AS (
  SELECT part_a, part_b, n_both,
         {o_fround("n_both / sqrt(pa.n * CAST(pb.n AS DOUBLE))", 6)} AS cosine
  FROM co
  JOIN pop pa ON pa.l_partkey = part_a
  JOIN pop pb ON pb.l_partkey = part_b
), ranked AS (
  SELECT part_a, part_b, n_both, cosine,
         row_number() OVER (PARTITION BY part_a ORDER BY cosine DESC, n_both DESC, part_b ASC) AS rnk
  FROM scored
)
SELECT part_a, part_b, n_both, cosine, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 5
"""

QUERIES["item_cosine"] = q_item_cosine
ORACLES["item_cosine"] = O_ITEM_COSINE


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price per return
    flag — the monotonic-association check that Pearson (stats_aggs)
    misses on non-linear relationships. Ties get average ranks (the
    standard fractional-rank treatment), then Pearson-on-ranks.

    Engine-exactness: average ranks are exact rationals computed from
    integer window counts; the rank co-moments fold in decimal so the
    final correlation is engine-identical before rounding.

    Plan (100 TB): rank windows partition by the GROUP key — at scale
    swap ntile-free exact ranks for approx-quantile bucketed ranks if
    a single group's frame outgrows a task.
    """
    t = tables(spark, sf_dir, "lineitem")
    li = t["lineitem"].select("l_returnflag", "l_quantity", "l_extendedprice")
    # fractional (average) rank: rank() + (cnt_ties - 1) / 2
    def frank(col: str) -> "F.Column":
        w = Window.partitionBy("l_returnflag").orderBy(col)
        wt = Window.partitionBy("l_returnflag", col)
        return F.rank().over(w) + (F.count("*").over(wt) - 1) / 2

    ranked = li.select(
        "l_returnflag",
        frank("l_quantity").cast(DEC).alias("rq"),
        frank("l_extendedprice").cast(DEC).alias("rp"),
    )
    agg = ranked.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rq").cast("double").alias("sq"),
        F.sum("rp").cast("double").alias("sp"),
        F.sum(F.col("rq") * F.col("rp")).cast("double").alias("sqp"),
        F.sum(F.col("rq") * F.col("rq")).cast("double").alias("sqq"),
        F.sum(F.col("rp") * F.col("rp")).cast("double").alias("spp"),
    )
    num = F.col("n") * F.col("sqp") - F.col("sq") * F.col("sp")
    den = F.sqrt(
        (F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq"))
        * (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp"))
    )
    return agg.select(
        "l_returnflag", "n", fround(num / den, 6).alias("spearman")
    )


O_SPEARMAN_CORR = f"""
WITH ranked AS (
  SELECT l_returnflag,
         CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
              + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0
              AS DECIMAL(30,10)) AS rq,
         CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
              + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0
              AS DECIMAL(30,10)) AS rp
  FROM lineitem
), agg AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rq) AS DOUBLE) AS sq,
         CAST(sum(rp) AS DOUBLE) AS sp,
         CAST(sum(rq * rp) AS DOUBLE) AS sqp,
         CAST(sum(rq * rq) AS DOUBLE) AS sqq,
         CAST(sum(rp * rp) AS DOUBLE) AS spp
  FROM ranked GROUP BY 1
)
SELECT l_returnflag, n,
       {o_fround("(n * sqp - sq * sp) / sqrt((n * sqq - sq * sq) * (n * spp - sp * sp))", 6)} AS spearman
FROM agg
"""

QUERIES["spearman_corr"] = q_spearman_corr
ORACLES["spearman_corr"] = O_SPEARMAN_CORR


def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-drift
    complement to kl_drift: KL weighs shared words by usage, this
    measures raw lexical overlap of the TYPE sets (template farms
    share near-identical vocabularies; organic sources diverge).

    Plan (100 TB): the (source, word) type set collapses map-side;
    the pair intersection is a word-keyed self-join carrying only
    (source, word-hash) — with S sources a word shared by all S
    fans out O(S²) pairs, bounded by the SOURCE count (tens), never
    by corpus size. Per-source type counts ride a broadcast.
    """
    t = tables(spark, sf_dir, "documents")
    vocab = (
        t["documents"]
        .select(
            "source",
            F.explode(
                F.filter(
                    F.split(
                        F.trim(
                            F.regexp_replace(
                                F.lower(F.col("text")), "[^a-z0-9]+", " "
                            )
                        ),
                        " ",
                    ),
                    lambda w: w != "",
                )
            ).alias("w"),
        )
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count("*").cast("long").alias("nv"))
    a = vocab.select(F.col("source").alias("src_a"), "w")
    b = vocab.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("nv").alias("nv_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("nv").alias("nv_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            fround(
                F.col("n_common")
                / (F.col("nv_a") + F.col("nv_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


O_VOCAB_OVERLAP = f"""
WITH words AS (
  SELECT source,
         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
  FROM documents
), vocab AS (
  SELECT DISTINCT source, w FROM words WHERE w <> ''
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS nv FROM vocab GROUP BY 1
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
  FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_common,
       {o_fround("n_common / CAST(sa.nv + sb.nv - n_common AS DOUBLE)", 6)} AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
"""

QUERIES["vocab_overlap"] = q_vocab_overlap
ORACLES["vocab_overlap"] = O_VOCAB_OVERLAP


# --------------------------------------------- period-over-period deltas

def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month and year-over-year
    percentage deltas on a GAP-FREE month spine — the standard BI
    trend query done right: lag() over raw grouped months silently
    compares across gaps, so the spine (sequence of all months between
    min and max) is generated first and empty months land as 0
    revenue; a delta against a 0 base is NULL, not infinity.

    Plan (100 TB): the monthly rollup is one map-side-combined groupBy
    (month cardinality is data-size-independent); the spine explodes
    from a 1-row min/max agg; the trailing lag window orders the
    ~tens-to-hundreds-of-months frame in ONE partition — bounded by
    calendar span, not data volume, so the single-partition sort is
    safe at any scale.
    """
    t = tables(spark, sf_dir, "orders")
    monthly = (
        t["orders"]
        .groupBy(
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
        )
        .agg(dsum(F.col("o_totalprice")).alias("revenue"))
    )
    spine = (
        monthly.agg(F.min("month").alias("lo"), F.max("month").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 month"))
            ).alias("month")
        )
    )
    full = spine.join(monthly, "month", "left").select(
        "month", F.coalesce("revenue", F.lit(0.0)).alias("revenue")
    )
    w = Window.orderBy("month")
    lagd = full.select(
        "month",
        "revenue",
        F.lag("revenue", 1).over(w).alias("_p1"),
        F.lag("revenue", 12).over(w).alias("_p12"),
    )

    def pct(base):
        return F.when(
            base.isNull() | (base == 0), F.lit(None).cast("double")
        ).otherwise(fround((F.col("revenue") - base) / base * 100, 4))

    return lagd.select(
        "month",
        "revenue",
        pct(F.col("_p1")).alias("mom_pct"),
        pct(F.col("_p12")).alias("yoy_pct"),
    )


O_PERIOD_OVER_PERIOD = f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         {o_dsum("o_totalprice")} AS revenue
  FROM orders GROUP BY 1
), bounds AS (SELECT min(month) AS lo, max(month) AS hi FROM monthly),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 MONTH)) AS DATE) AS month
  FROM bounds
), filled AS (
  SELECT s.month, coalesce(m.revenue, 0.0) AS revenue
  FROM spine s LEFT JOIN monthly m USING (month)
), lagd AS (
  SELECT month, revenue,
         lag(revenue, 1) OVER (ORDER BY month) AS _p1,
         lag(revenue, 12) OVER (ORDER BY month) AS _p12
  FROM filled
)
SELECT month, revenue,
       CASE WHEN _p1 IS NULL OR _p1 = 0 THEN NULL
            ELSE {o_fround("(revenue - _p1) / _p1 * 100", 4)} END AS mom_pct,
       CASE WHEN _p12 IS NULL OR _p12 = 0 THEN NULL
            ELSE {o_fround("(revenue - _p12) / _p12 * 100", 4)} END AS yoy_pct
FROM lagd
"""

QUERIES["period_over_period"] = q_period_over_period
ORACLES["period_over_period"] = O_PERIOD_OVER_PERIOD


# ------------------------------------------------- decile lift analysis

def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate lift by order-value decile: do expensive orders get
    returned more? Orders bin into spend deciles via interpolated
    percentile cutoffs; the outcome is "order contains at least one
    returned line"; lift is decile return-rate over the global rate —
    the standard model-lift / risk-segmentation readout.

    Plan (100 TB): cutoffs come from ONE percentile aggregate (its
    partial buffer is a value->count map, no global sort — unlike
    ntile, which would single-partition the fact table); the 1-row
    cutoff frame broadcasts into a CASE-chain binning expression.
    Outcome flags collapse order-grain via a map-side-combined
    groupBy on l_orderkey before joining orders. Rates divide exact
    BIGINT counts; both engines compute identical cutoff doubles.
    """
    t = tables(spark, sf_dir, "orders", "lineitem")
    # ONE percentile aggregate with an array of quantiles: nine
    # separate F.percentile calls each build their own value->count
    # buffer over the (nearly unique) price column — measured 9x the
    # aggregation work for identical cutoffs
    cuts = t["orders"].agg(
        F.percentile(
            "o_totalprice", F.array(*[F.lit(q / 10.0) for q in range(1, 10)])
        ).alias("cs")
    ).select(*[F.col("cs")[q - 1].alias(f"c{q}") for q in range(1, 10)])
    returned = (
        t["lineitem"]
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "ret"
            )
        )
    )
    dec = F.lit(1)
    for q in range(1, 10):
        dec = dec + F.when(F.col("o_totalprice") > F.col(f"c{q}"), 1).otherwise(0)
    binned = (
        t["orders"]
        .join(returned, "o_orderkey", "left")
        .na.fill({"ret": 0})
        .crossJoin(F.broadcast(cuts))
        .select(dec.cast("long").alias("decile"), "ret")
    )
    per = binned.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("ret").cast("long").alias("n_returned"),
    )
    tot = per.agg(
        F.sum("n_orders").alias("tn"), F.sum("n_returned").alias("tr")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_orders",
        "n_returned",
        fround(F.col("n_returned") / F.col("n_orders"), 6).alias("return_rate"),
        fround(
            (F.col("n_returned") / F.col("n_orders"))
            / (F.col("tr") / F.col("tn")),
            4,
        ).alias("lift"),
    )


_O_CUTS = ", ".join(
    f"quantile_cont(o_totalprice, {q / 10.0}) AS c{q}" for q in range(1, 10)
)
_O_DEC = "1 + " + " + ".join(
    f"(CASE WHEN o_totalprice > c{q} THEN 1 ELSE 0 END)" for q in range(1, 10)
)

O_DECILE_LIFT = f"""
WITH cuts AS (
  SELECT {_O_CUTS} FROM orders
), returned AS (
  SELECT l_orderkey AS o_orderkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
  FROM lineitem GROUP BY 1
), binned AS (
  SELECT CAST({_O_DEC} AS BIGINT) AS decile, coalesce(ret, 0) AS ret
  FROM orders LEFT JOIN returned USING (o_orderkey) CROSS JOIN cuts
), per AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(ret) AS BIGINT) AS n_returned
  FROM binned GROUP BY 1
), tot AS (
  SELECT sum(n_orders) AS tn, sum(n_returned) AS tr FROM per
)
SELECT decile, n_orders, n_returned,
       {o_fround("CAST(n_returned AS DOUBLE) / n_orders", 6)} AS return_rate,
       {o_fround("(CAST(n_returned AS DOUBLE) / n_orders) / (CAST(tr AS DOUBLE) / tn)", 4)} AS lift
FROM per CROSS JOIN tot
"""

QUERIES["decile_lift"] = q_decile_lift
ORACLES["decile_lift"] = O_DECILE_LIFT


# ------------------------------------------------- byte-level corpus audit

def q_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source byte/character profile: UTF-8 bytes-per-char and the
    non-ASCII character fraction — the cheap scan that tells you which
    sources are multibyte-heavy (CJK, emoji, mojibake) before sizing
    tokenizer throughput or storage. A source whose bytes_per_char
    jumps round-over-round usually changed encoding upstream.

    Plan (100 TB): entirely row-local expressions (octet_length,
    char length, ASCII-strip regexp) folded by one map-side-combined
    groupBy on source. Integer sums are exact BIGINTs; ratios divide
    them in identical double math.
    """
    t = tables(spark, sf_dir, "documents")
    nonascii = F.length(F.regexp_replace(F.col("text"), "[\\x00-\\x7F]", ""))
    return (
        t["documents"]
        .select(
            "source",
            F.octet_length("text").alias("nb"),
            F.length("text").alias("nc"),
            nonascii.alias("na"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nc").cast("long").alias("total_chars"),
            F.sum("nb").cast("long").alias("total_bytes"),
            fround(F.sum("nb") / F.sum("nc"), 4).alias("bytes_per_char"),
            fround(F.sum("na") / F.sum("nc"), 6).alias("nonascii_char_frac"),
        )
    )


O_BYTE_STATS = f"""
WITH per AS (
  SELECT source,
         strlen(text) AS nb,
         length(text) AS nc,
         length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS na
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS total_chars,
       CAST(sum(nb) AS BIGINT) AS total_bytes,
       {o_fround("CAST(sum(nb) AS DOUBLE) / sum(nc)", 4)} AS bytes_per_char,
       {o_fround("CAST(sum(na) AS DOUBLE) / sum(nc)", 6)} AS nonascii_char_frac
FROM per
GROUP BY source
"""

QUERIES["byte_stats"] = q_byte_stats
ORACLES["byte_stats"] = O_BYTE_STATS


# ------------------------------------------------- shipping latency SLA

def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency percentiles (p50/p90/p99 days) per order
    priority — the SLA view of the fulfillment pipeline, and the query
    shape every latency dashboard runs (grouped tail percentiles over
    a fact-fact join).

    Plan (100 TB): lineitem joins orders on the orderkey — both sides
    shuffle-partition on the same key (co-located if the tables are
    bucketed by orderkey at write time, exchange-free then). The
    percentile aggregate's partial state is a value->count map over
    DISTINCT day-latencies (small ints), so map-side combine keeps the
    shuffle tiny; no global sort anywhere.
    """
    t = tables(spark, sf_dir, "orders", "lineitem")
    lat = t["lineitem"].join(
        t["orders"].select(
            F.col("o_orderkey").alias("l_orderkey"),
            "o_orderdate",
            "o_orderpriority",
        ),
        "l_orderkey",
    ).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "days"
        ),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_lines"),
        fround(F.percentile("days", 0.5), 4).alias("p50_days"),
        fround(F.percentile("days", 0.9), 4).alias("p90_days"),
        fround(F.percentile("days", 0.99), 4).alias("p99_days"),
    )


O_SHIP_LATENCY = f"""
WITH lat AS (
  SELECT o_orderpriority,
         datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS days
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       {o_fround("quantile_cont(days, 0.5)", 4)} AS p50_days,
       {o_fround("quantile_cont(days, 0.9)", 4)} AS p90_days,
       {o_fround("quantile_cont(days, 0.99)", 4)} AS p99_days
FROM lat
GROUP BY o_orderpriority
"""

QUERIES["ship_latency"] = q_ship_latency
ORACLES["ship_latency"] = O_SHIP_LATENCY


# ------------------------------------------------------ cohort LTV

def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, per (cohort_month, month_offset) revenue and the running
    cumulative revenue along each cohort's life — the revenue twin of
    [cohort_retention]'s user-count matrix.

    Plan: one groupBy finds each customer's cohort month (partial agg,
    min combines map-side); the fact-side join shuffles on o_custkey
    once; the matrix aggregation is a second combiner-friendly groupBy.
    The cumulative window partitions by cohort_month over the ALREADY
    AGGREGATED matrix — partition size is bounded by the month span of
    the data (offsets), never by row count. Month arithmetic uses
    year*12+month deltas so both engines compute identical integers;
    revenue accumulates in DECIMAL (dsum) and the cumulative sum runs
    over those already-rounded 2-dp values in DECIMAL again, so the
    window's left-to-right order is the same exact sum in both engines.
    """
    t = tables(spark, sf_dir, "orders")
    o = t["orders"].select(
        "o_custkey",
        F.trunc("o_orderdate", "month").alias("month"),
        "o_totalprice",
    )
    cohort = o.groupBy("o_custkey").agg(F.min("month").alias("cohort_month"))
    months = (F.year("month") - F.year("cohort_month")) * 12 + (
        F.month("month") - F.month("cohort_month")
    )
    mat = (
        o.join(cohort, "o_custkey")
        .groupBy("cohort_month", months.cast("long").alias("month_offset"))
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_active"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return mat.withColumn(
        "cum_revenue",
        fround(F.sum(F.col("revenue").cast(DEC)).over(w).cast("double"), 2),
    ).orderBy("cohort_month", "month_offset")


O_COHORT_LTV = f"""
WITH o AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS month, o_totalprice FROM orders
),
cohort AS (SELECT o_custkey, min(month) AS cohort_month FROM o GROUP BY 1),
mat AS (
  SELECT cohort_month,
         CAST((year(month) - year(cohort_month)) * 12
              + (month(month) - month(cohort_month)) AS BIGINT) AS month_offset,
         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
         {o_dsum("o_totalprice")} AS revenue
  FROM o JOIN cohort USING (o_custkey)
  GROUP BY 1, 2
)
SELECT cohort_month, month_offset, n_active, revenue,
       {o_fround('''CAST(sum(CAST(revenue AS DECIMAL(30,10)))
              OVER (PARTITION BY cohort_month ORDER BY month_offset) AS DOUBLE)''', 2)} AS cum_revenue
FROM mat ORDER BY cohort_month, month_offset
"""

QUERIES["cohort_ltv"] = q_cohort_ltv
ORACLES["cohort_ltv"] = O_COHORT_LTV


# ------------------------------------------------ time-decayed trends

def q_decayed_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity per event type (half-life
    7 days, anchored at the corpus max date): the trending score that
    weights today's events at 1 and last month's at ~0.05, plus each
    type's share of the total decayed mass — recency-weighted ranking
    without a cutoff cliff.

    Plan: the anchor date is a 1-row scalar frame (broadcast cross
    join, no driver action). groupBy(event_type, age_days) collapses
    the fact table FIRST — map-side combine, and the frame it emits is
    bounded by |types| x |days|, data-size-independent — so pow() runs
    once per (type, day) cell, not per event, and both engines call it
    on identical doubles from identical integer ages. Decayed sums then
    accumulate in DECIMAL over that tiny frame; the share denominator
    is a second 1-row broadcast. Rounding at 4 dp sits ~12 orders of
    magnitude above any last-ulp libm pow() divergence.
    """
    t = tables(spark, sf_dir, "events")
    ev = t["events"].select(F.to_date("ts").alias("day"), "event_type")
    anchor = ev.agg(F.max("day").alias("d0"))
    cells = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("event_type", F.datediff("d0", "day").cast("long").alias("age"))
        .agg(F.count("*").cast("double").alias("n"))
    )
    wgt = F.pow(F.lit(0.5), F.col("age").cast("double") / 7.0)
    per_type = cells.groupBy("event_type").agg(
        F.sum(F.col("n").cast("long")).alias("n_events"),
        F.sum((F.col("n") * wgt).cast(DEC)).alias("dec_mass"),
    )
    total = per_type.agg(F.sum("dec_mass").alias("tot"))
    return (
        per_type.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "n_events",
            fround(F.col("dec_mass").cast("double"), 4).alias("decayed_count"),
            fround((F.col("dec_mass") / F.col("tot")).cast("double"), 6).alias("share"),
        )
        .orderBy("event_type")
    )


O_DECAYED_TRENDS = f"""
WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
anchor AS (SELECT max(day) AS d0 FROM ev),
cells AS (
  SELECT event_type, CAST(datediff('day', day, d0) AS BIGINT) AS age,
         CAST(count(*) AS DOUBLE) AS n
  FROM ev CROSS JOIN anchor GROUP BY 1, 2
),
per_type AS (
  SELECT event_type, CAST(sum(CAST(n AS BIGINT)) AS BIGINT) AS n_events,
         sum(CAST(n * pow(0.5, CAST(age AS DOUBLE) / 7.0) AS DECIMAL(30,10))) AS dec_mass
  FROM cells GROUP BY 1
)
SELECT event_type, n_events,
       {o_fround("CAST(dec_mass AS DOUBLE)", 4)} AS decayed_count,
       {o_fround("CAST(dec_mass / (SELECT sum(dec_mass) FROM per_type) AS DOUBLE)", 6)} AS share
FROM per_type ORDER BY 1
"""

QUERIES["decayed_trends"] = q_decayed_trends
ORACLES["decayed_trends"] = O_DECAYED_TRENDS


# ------------------------------------------ frequent 3-itemsets

def q_copurchase_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most co-purchased part TRIPLES — the size-3 extension of
    [copurchase_pairs], with the Apriori pruning that makes itemset
    mining survive scale: an item that appears in fewer than
    ``min_item_support`` baskets cannot be in any frequent triple, so
    the semi-join prefilter shrinks every basket BEFORE the O(k^3)
    per-basket enumeration.

    Plan: distinct (order, part) first (partial-agg dedup); item
    supports are one combiner-friendly groupBy; the prefilter is a
    semi join on part id (ids-only shuffle — at 100 TB the frequent-
    item set is still per-part-bounded, NOT broadcast, per the r5
    broadcast-side advice). The triple enumeration self-joins the
    filtered baskets twice on the order key with a < b < c, so each
    basket of size k emits C(k,3) rows and nothing is corpus-
    quadratic; the count groupBy partial-aggregates and a
    deterministic (n desc, a, b, c) top-20 closes it. Whale baskets
    above :data:`operators.baskets.MAX_BASKET_ITEMS` are dropped
    before the C(k,3) enumeration (cap applied AFTER the Apriori
    prefilter, so a basket is judged on its frequent-item size).
    """
    from data_ingestors_spark.operators.dedup import _materialize

    t = tables(spark, sf_dir, "lineitem")
    # r12-opt (guide §2.4): items feeds freq + the semi join and
    # fitems feeds the THREE-way self-join (a/b/c) — unpersisted, the
    # scan+distinct (and the Apriori prefilter above it) re-ran per
    # branch (12 parquet scans in
    # plans/r12/copurchase_triples_before.txt). Materialize both
    # narrow (long, long) frames once.
    items = _materialize(t["lineitem"].select("l_orderkey", "l_partkey").distinct())
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= 3)
        .select("l_partkey")
    )
    fitems = _materialize(
        cap_baskets(items.join(freq, "l_partkey", "semi"), "l_orderkey")
    )
    a = fitems.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = fitems.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    c = fitems.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pc"))
    triples = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .join(c, "ok")
        .filter(F.col("pb") < F.col("pc"))
    )
    return (
        triples.groupBy("pa", "pb", "pc")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "pa", "pb", "pc")
        .limit(20)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("pc").alias("part_c"),
            "n_orders",
        )
    )


O_COPURCHASE_TRIPLES = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (
  SELECT l_partkey FROM items GROUP BY 1 HAVING count(*) >= 3
),
f AS (
  -- mirror MAX_BASKET_ITEMS: Spark caps AFTER the frequent-item semi join
  SELECT l_orderkey, l_partkey
  FROM items WHERE l_partkey IN (SELECT l_partkey FROM freq)
  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= {MAX_BASKET_ITEMS}
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, c.l_partkey AS part_c,
       CAST(count(*) AS BIGINT) AS n_orders
FROM f a
JOIN f b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
JOIN f c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
GROUP BY 1, 2, 3
ORDER BY n_orders DESC, part_a, part_b, part_c
LIMIT 20
"""

QUERIES["copurchase_triples"] = q_copurchase_triples
ORACLES["copurchase_triples"] = O_COPURCHASE_TRIPLES


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules A -> B over order baskets with the
    full Agrawal-Srikant metric set: support, confidence, lift, and
    conviction — the step after [q_copurchase_pairs]'s undirected
    counts that a recommender or store-layout pipeline actually
    consumes. Top-50 rules by confidence.

    Exactness: every metric is a single division of exact integer
    products (n_both*N / n_a*n_b etc.), so both engines produce the
    identical IEEE double before the portable rounding; conviction is
    NULL when confidence = 1 (division by zero) in both.

    Plan (100 TB): ordered-pair fan-out is O(k²) per basket, never
    corpus-quadratic; min-support (>= 2, matching the co-purchase graph) HAVING prunes the pair tail before
    the metric joins; per-part support frames stream on the part key
    (|parts|-sized — NOT broadcast); the 1-row basket total cross-
    joins broadcast. Whale baskets above
    :data:`operators.baskets.MAX_BASKET_ITEMS` are dropped before the
    fan-out.

    r12-opt note: wrapping ``items`` in ``_materialize`` (as
    ``item_cosine``/``copurchase_triples`` do) was measured and
    REJECTED here — interleaved A/B at sf0.1 put the cached form ~10%
    slower on both min and med (3.40/4.34 s uncached vs 3.73/4.87 s
    cached over two 6-rep runs): the shared subtree is only
    scan+distinct+cap-window (no fact-fact join), and ReuseExchange
    already shares the shuffle across the a/b branches, so the persist
    round-trip costs more than the recomputation it saves."""
    t = tables(spark, sf_dir, "lineitem")
    items = cap_baskets(
        t["lineitem"].select("l_orderkey", "l_partkey").distinct(), "l_orderkey"
    )
    co = basket_pairs(
        items, "l_orderkey", "l_partkey", min_support=2, directed=True
    ).select(
        F.col("item_a").alias("antecedent"), F.col("item_b").alias("consequent"), "n_both"
    )
    support = items.groupBy("l_partkey").agg(F.count("*").cast("long").alias("n_part"))
    total = items.agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    scored = (
        co.join(support.select(F.col("l_partkey").alias("antecedent"), F.col("n_part").alias("n_ante")), "antecedent")
        .join(support.select(F.col("l_partkey").alias("consequent"), F.col("n_part").alias("n_cons")), "consequent")
        .crossJoin(F.broadcast(total))
    )
    conf = F.col("n_both") / F.col("n_ante")
    return (
        scored.select(
            "antecedent",
            "consequent",
            "n_both",
            "n_ante",
            "n_cons",
            fround(F.col("n_both") / F.col("n_orders"), 6).alias("support"),
            fround(conf, 6).alias("confidence"),
            fround(
                (F.col("n_both") * F.col("n_orders"))
                / (F.col("n_ante") * F.col("n_cons")).cast("double"),
                6,
            ).alias("lift"),
            F.when(
                F.col("n_both") < F.col("n_ante"),
                fround(
                    ((F.col("n_orders") - F.col("n_cons")) * F.col("n_ante"))
                    / (F.col("n_orders") * (F.col("n_ante") - F.col("n_both"))).cast("double"),
                    6,
                ),
            ).alias("conviction"),
        )
        .orderBy(F.desc("confidence"), F.desc("lift"), "antecedent", "consequent")
        .limit(50)
    )


O_ASSOC_RULES = f"""
WITH items AS (
  -- mirror MAX_BASKET_ITEMS: Spark drops whale baskets before the fan-out
  SELECT l_orderkey, l_partkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= {MAX_BASKET_ITEMS}
),
co AS (
  SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
         CAST(count(*) AS BIGINT) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
support AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part FROM items GROUP BY 1),
total AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items)
SELECT antecedent, consequent, n_both,
       sa.n_part AS n_ante, sc.n_part AS n_cons,
       {o_fround("n_both / CAST(n_orders AS DOUBLE)", 6)} AS support,
       {o_fround("n_both / CAST(sa.n_part AS DOUBLE)", 6)} AS confidence,
       {o_fround("(n_both * n_orders) / CAST(sa.n_part * sc.n_part AS DOUBLE)", 6)} AS lift,
       CASE WHEN n_both < sa.n_part THEN
         {o_fround("((n_orders - sc.n_part) * sa.n_part) / CAST(n_orders * (sa.n_part - n_both) AS DOUBLE)", 6)}
       END AS conviction
FROM co
JOIN support sa ON sa.l_partkey = antecedent
JOIN support sc ON sc.l_partkey = consequent
CROSS JOIN total
ORDER BY confidence DESC, lift DESC, antecedent, consequent
LIMIT 50
"""

QUERIES["assoc_rules"] = q_assoc_rules
ORACLES["assoc_rules"] = O_ASSOC_RULES


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence encoding + Information Value of the
    customer-nation feature against the order-returned outcome — the
    credit-scoring feature transform (WOE = ln(p_event/p_nonevent)
    per category, IV = sum (p_e - p_ne) * WOE) that turns a
    categorical into a monotone risk score; IV bands gate feature
    selection (<0.02 useless, >0.3 strong).

    Laplace +1 smoothing on both counts keeps empty cells finite in
    both engines; ln() on identical doubles is libm-portable.

    Plan (100 TB): outcome collapses to order grain map-side, ONE
    groupBy to |nations| cells, two broadcast scalar totals — no
    sort, no self-join."""
    t = tables(spark, sf_dir, "orders", "lineitem", "customer")
    returned = (
        t["lineitem"]
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ret"))
    )
    base = (
        t["orders"]
        .join(returned, "o_orderkey", "left")
        .na.fill({"ret": 0})
        .join(
            t["customer"].select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
            "o_custkey",
        )
    )
    cells = base.groupBy("c_nationkey").agg(
        F.sum("ret").cast("long").alias("n_event"),
        F.sum(1 - F.col("ret")).cast("long").alias("n_nonevent"),
    )
    tot = cells.agg(
        F.sum("n_event").cast("long").alias("t_e"),
        F.sum("n_nonevent").cast("long").alias("t_ne"),
        F.count("*").cast("long").alias("n_cats"),
    )
    p_e = (F.col("n_event") + 1) / (F.col("t_e") + F.col("n_cats"))
    p_ne = (F.col("n_nonevent") + 1) / (F.col("t_ne") + F.col("n_cats"))
    woe = F.log(p_e / p_ne)
    scored = cells.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "n_event",
        "n_nonevent",
        fround(woe, 6).alias("woe"),
        ((p_e - p_ne) * woe).alias("iv_term"),
    )
    iv = scored.agg(
        fround(F.sum(F.col("iv_term").cast(DEC)).cast("double"), 6).alias("iv")
    )
    return (
        scored.crossJoin(F.broadcast(iv))
        .select("c_nationkey", "n_event", "n_nonevent", "woe", "iv")
        .orderBy("c_nationkey")
    )


O_WOE_IV = f"""
WITH returned AS (
  SELECT l_orderkey AS o_orderkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
  FROM lineitem GROUP BY 1
),
base AS (
  SELECT c_nationkey, coalesce(ret, 0) AS ret
  FROM orders
  LEFT JOIN returned USING (o_orderkey)
  JOIN customer ON c_custkey = o_custkey
),
cells AS (
  SELECT c_nationkey,
         CAST(sum(ret) AS BIGINT) AS n_event,
         CAST(sum(1 - ret) AS BIGINT) AS n_nonevent
  FROM base GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_event) AS BIGINT) AS t_e,
         CAST(sum(n_nonevent) AS BIGINT) AS t_ne,
         CAST(count(*) AS BIGINT) AS n_cats
  FROM cells
),
scored AS (
  SELECT c_nationkey, n_event, n_nonevent,
         {o_fround("ln(((n_event + 1) / CAST(t_e + n_cats AS DOUBLE)) / ((n_nonevent + 1) / CAST(t_ne + n_cats AS DOUBLE)))", 6)} AS woe,
         (((n_event + 1) / CAST(t_e + n_cats AS DOUBLE)) - ((n_nonevent + 1) / CAST(t_ne + n_cats AS DOUBLE)))
           * ln(((n_event + 1) / CAST(t_e + n_cats AS DOUBLE)) / ((n_nonevent + 1) / CAST(t_ne + n_cats AS DOUBLE))) AS iv_term
  FROM cells CROSS JOIN tot
),
iv AS (SELECT {o_fround("CAST(sum(CAST(iv_term AS DECIMAL(30,10))) AS DOUBLE)", 6)} AS iv FROM scored)
SELECT c_nationkey, n_event, n_nonevent, woe, iv
FROM scored CROSS JOIN iv
ORDER BY c_nationkey
"""

QUERIES["woe_iv"] = q_woe_iv
ORACLES["woe_iv"] = O_WOE_IV


def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality strength per event type: the fraction
    of daily-count variance explained by the day-of-week means
    (between-group SS over total SS — one-way ANOVA R²) — the single
    number that says whether a weekly seasonal model is worth
    fitting ([q_seasonal_decompose] then extracts it).

    Exactness: daily counts are integers; all sums of squares
    accumulate in DECIMAL from integer products, so both engines get
    identical doubles before the one division. Day-of-week is the
    portable datediff-mod-7 form.

    Plan (100 TB): events collapse to the (type, day) count frame
    FIRST (partial-aggregable); everything after rides |types| x
    |days| rows."""
    t = tables(spark, sf_dir, "events")
    daily = (
        t["events"]
        .groupBy(
            "event_type",
            F.to_date("ts").alias("d"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn(
            "dow",
            F.pmod(F.datediff(F.col("d"), F.lit("1970-01-05").cast("date")), F.lit(7)).cast("int"),
        )
    )
    per_dow = daily.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("n").cast(DEC)).cast("double").alias("s"),
        F.sum((F.col("n") * F.col("n")).cast(DEC)).cast("double").alias("ss"),
    )
    per_type = per_dow.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("n_days"),
        F.sum(F.col("s").cast(DEC)).cast("double").alias("st"),
        F.sum(F.col("ss").cast(DEC)).cast("double").alias("sst"),
        F.sum((F.col("s") * F.col("s") / F.col("k")).cast(DEC)).cast("double").alias("sb_raw"),
    )
    ss_total = F.col("sst") - F.col("st") * F.col("st") / F.col("n_days")
    ss_between = F.col("sb_raw") - F.col("st") * F.col("st") / F.col("n_days")
    return per_type.select(
        "event_type",
        "n_days",
        fround(ss_between / ss_total, 6).alias("seasonality_r2"),
    ).orderBy("event_type")


O_SEASONALITY_STRENGTH = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
dowd AS (
  SELECT event_type, n,
         CAST((datediff('day', DATE '1970-01-05', d) % 7 + 7) % 7 AS INTEGER) AS dow
  FROM daily
),
per_dow AS (
  SELECT event_type, dow,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(n AS DECIMAL(30,10))) AS DOUBLE) AS s,
         CAST(sum(CAST(n * n AS DECIMAL(30,10))) AS DOUBLE) AS ss
  FROM dowd GROUP BY 1, 2
),
per_type AS (
  SELECT event_type,
         CAST(sum(k) AS BIGINT) AS n_days,
         CAST(sum(CAST(s AS DECIMAL(30,10))) AS DOUBLE) AS st,
         CAST(sum(CAST(ss AS DECIMAL(30,10))) AS DOUBLE) AS sst,
         CAST(sum(CAST(s * s / k AS DECIMAL(30,10))) AS DOUBLE) AS sb_raw
  FROM per_dow GROUP BY 1
)
SELECT event_type, n_days,
       {o_fround("(sb_raw - st * st / n_days) / (sst - st * st / n_days)", 6)} AS seasonality_r2
FROM per_type ORDER BY event_type
"""

QUERIES["seasonality_strength"] = q_seasonality_strength
ORACLES["seasonality_strength"] = O_SEASONALITY_STRENGTH


def q_repeat_purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence per market segment: day gaps between a
    customer's consecutive orders, summarized as count / mean /
    median / p90 — the reorder-cycle table that calibrates churn
    windows and replenishment nudges.

    Exactness: gaps are integer days from a per-customer lag window
    ((date, orderkey) order); mean divides a DECIMAL sum; the
    percentiles use the interpolated-percentile pair proven
    hash-portable by key_skew_audit (F.percentile == quantile_cont
    on integer inputs).

    Plan (100 TB): one shuffle on o_custkey for the lag window, one
    |segments|-row aggregate; percentile partials ride the distinct
    gap-value counts, never a global sort."""
    t = tables(spark, sf_dir, "orders", "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        t["orders"]
        .select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn(
            "gap_days",
            F.datediff(
                F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
            ),
        )
        .filter(F.col("gap_days").isNotNull())
        .join(
            t["customer"].select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
            "o_custkey",
        )
    )
    return (
        gaps.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            fround(
                F.sum(F.col("gap_days").cast(DEC)).cast("double") / F.count("*"), 4
            ).alias("avg_gap_days"),
            fround(F.percentile("gap_days", 0.5), 4).alias("median_gap_days"),
            fround(F.percentile("gap_days", 0.9), 4).alias("p90_gap_days"),
        )
        .orderBy("c_mktsegment")
    )


O_REPEAT_PURCHASE_GAPS = f"""
WITH gaps AS (
  SELECT o_custkey,
         datediff('day',
                  CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
                  CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
),
j AS (
  SELECT c_mktsegment, gap_days
  FROM gaps JOIN customer ON c_custkey = o_custkey
  WHERE gap_days IS NOT NULL
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_gaps,
       {o_fround("CAST(sum(CAST(gap_days AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 4)} AS avg_gap_days,
       {o_fround("quantile_cont(gap_days, 0.5)", 4)} AS median_gap_days,
       {o_fround("quantile_cont(gap_days, 0.9)", 4)} AS p90_gap_days
FROM j GROUP BY 1 ORDER BY 1
"""

QUERIES["repeat_purchase_gaps"] = q_repeat_purchase_gaps
ORACLES["repeat_purchase_gaps"] = O_REPEAT_PURCHASE_GAPS


def q_brand_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue-share movers between the first and second halves
    of the order-date range: share in each half (decimal-exact
    revenue sums) and the top-15 absolute shifts — the 'what changed'
    BI readout next to [q_period_over_period]'s absolute deltas.

    Plan (100 TB): one 1-row midpoint broadcast, one conditional-
    aggregate scan to |brands| cells, two broadcast half-totals; the
    top-15 is a TakeOrdered with full tiebreaks. BOTH engines rank on
    the 6-dp-ROUNDED shift (the oracle's ORDER BY wraps the same
    portable rounding), so the rank-15/16 cut can't diverge when two
    raw shifts round to the same value."""
    t = tables(spark, sf_dir, "lineitem", "orders", "part")
    rng = t["orders"].agg(
        ((F.min(F.unix_micros("o_orderdate")) + F.max(F.unix_micros("o_orderdate"))) / 2)
        .cast("long")
        .alias("mid_us")
    )
    li = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t["part"].select(F.col("p_partkey").alias("l_partkey"), "p_brand"),
            "l_partkey",
        )
        .crossJoin(F.broadcast(rng))
    )
    in_a = F.unix_micros("o_orderdate") < F.col("mid_us")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cells = li.groupBy("p_brand").agg(
        F.sum(F.when(in_a, rev).otherwise(F.lit(None)).cast(DEC)).cast("double").alias("rev_a"),
        F.sum(F.when(~in_a, rev).otherwise(F.lit(None)).cast(DEC)).cast("double").alias("rev_b"),
    ).na.fill({"rev_a": 0.0, "rev_b": 0.0})
    tot = cells.agg(
        F.sum(F.col("rev_a").cast(DEC)).cast("double").alias("t_a"),
        F.sum(F.col("rev_b").cast(DEC)).cast("double").alias("t_b"),
    )
    shared = cells.crossJoin(F.broadcast(tot)).select(
        "p_brand",
        fround(F.col("rev_a") / F.col("t_a"), 6).alias("share_a"),
        fround(F.col("rev_b") / F.col("t_b"), 6).alias("share_b"),
        fround(F.col("rev_b") / F.col("t_b") - F.col("rev_a") / F.col("t_a"), 6).alias("share_shift"),
    )
    return shared.orderBy(
        F.desc(F.abs(F.col("share_shift"))), "p_brand"
    ).limit(15)


O_BRAND_SHARE_SHIFT = f"""
WITH rng AS (
  SELECT CAST(floor((min(epoch_us(o_orderdate)) + max(epoch_us(o_orderdate))) / 2) AS BIGINT) AS mid_us
  FROM orders
),
cells AS (
  SELECT p_brand,
         coalesce(CAST(sum(CASE WHEN epoch_us(o_orderdate) < mid_us
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)) END) AS DOUBLE), 0.0) AS rev_a,
         coalesce(CAST(sum(CASE WHEN epoch_us(o_orderdate) >= mid_us
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)) END) AS DOUBLE), 0.0) AS rev_b
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON p_partkey = l_partkey
  CROSS JOIN rng
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(CAST(rev_a AS DECIMAL(30,10))) AS DOUBLE) AS t_a,
         CAST(sum(CAST(rev_b AS DECIMAL(30,10))) AS DOUBLE) AS t_b
  FROM cells
)
SELECT p_brand,
       {o_fround("rev_a / t_a", 6)} AS share_a,
       {o_fround("rev_b / t_b", 6)} AS share_b,
       {o_fround("rev_b / t_b - rev_a / t_a", 6)} AS share_shift
FROM cells CROSS JOIN tot
ORDER BY abs({o_fround("rev_b / t_b - rev_a / t_a", 6)}) DESC, p_brand
LIMIT 15
"""

QUERIES["brand_share_shift"] = q_brand_share_shift
ORACLES["brand_share_shift"] = O_BRAND_SHARE_SHIFT


