"""Event-stream queries over the events table: tumbling / sliding /
session windows and JSON extraction. These run in *batch* here (the
same expressions work under readStream — streaming/ covers that with
watermarks); window starts are emitted as epoch seconds so the oracle
comparison is timezone-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestors_spark.operators.baskets import basket_pairs
from data_ingestors_spark.queries.base import DEC, tables, dsum, davg, fround, o_davg, o_fround


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type."""
    t = tables(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").cast("long").alias("w_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


O_TUMBLING_WINDOW = """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS w_start,
       event_type,
       count(*) AS n_events,
       floor((CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2)."""
    t = tables(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), davg(F.col("value"), 4).alias("avg_value"))
        .select(F.col("w.start").cast("long").alias("w_start"), "n_events", "avg_value")
    )


O_SLIDING_WINDOW = """
WITH assigned AS (
  SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS w_start, value FROM events
  UNION ALL
  SELECT CAST(floor(epoch(ts) / 1800) * 1800 - 1800 AS BIGINT) AS w_start, value FROM events
)
SELECT w_start, count(*) AS n_events, floor((CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / count(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value
FROM assigned GROUP BY 1
"""


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap per user.
    Batch session_window; the oracle is the classic gaps-and-islands
    (lag + cumulative new-session flags) formulation."""
    t = tables(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


O_SESSION_WINDOW = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       count(*) AS n_events,
       floor((CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS sum_value
FROM sessions GROUP BY user_id, sid
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the props column + aggregation."""
    t = tables(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        t["events"]
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


O_JSON_EXTRACT = """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""


def q_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup: first event per (user, type) by time — the batch
    analog of dropDuplicatesWithinWatermark, made deterministic with a
    full ordering chain."""
    t = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.round("value", 4).alias("value"))
    )


O_EVENT_DEDUP = """
SELECT user_id, event_type, event_id, round(value, 4) AS value
FROM (
  SELECT user_id, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def q_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event attribution: each view paired with every purchase by the
    same user within the following hour — a time-interval self-join.
    Delay is emitted in exact integer microseconds (no float). At
    scale both sides shuffle once on user_id and the per-user range
    condition bounds the pair count; the streaming twin
    (streaming/events.py attribution_stream) is the same join with
    watermarks bounding state instead."""
    t = tables(spark, sf_dir, "events")
    ev = t["events"]
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    return (
        v.join(p, "user_id")
        .filter(
            (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .select(
            "view_id",
            "purchase_id",
            "user_id",
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("delay_us"),
        )
    )


O_ATTRIBUTION_JOIN = """
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS delay_us
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact interval overlap join: events become intervals
    [ts, ts + 10·value seconds]; pairs of the SAME user whose
    intervals overlap, with the overlap duration. Runs through the
    binned equi-join (operators/joins.py interval_overlap_join) — both
    sides are corpus-scale, so neither broadcasts; the bin guard makes
    each pair match exactly once with no dropDuplicates shuffle."""
    from data_ingestors_spark.operators.joins import interval_overlap_join

    t = tables(spark, sf_dir, "events")
    iv = t["events"].select(
        F.col("event_id").alias("eid"),
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + F.floor(F.col("value") * 10).cast("long")).alias("e"),
    )
    joined = interval_overlap_join(
        iv, iv, start_col="s", end_col="e", bin_size=256, block_cols=("user_id",)
    ).filter(F.col("l_eid") < F.col("r_eid"))
    return joined.select(
        F.col("l_eid").alias("id_a"),
        F.col("r_eid").alias("id_b"),
        F.col("l_user_id").cast("long").alias("user_id"),
        (F.least(F.col("l_e"), F.col("r_e")) - F.greatest(F.col("l_s"), F.col("r_s")))
        .cast("long")
        .alias("overlap_s"),
    )


O_INTERVAL_JOIN = """
WITH iv AS (
  SELECT event_id AS eid, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value * 10) AS BIGINT) AS e
  FROM events
)
SELECT a.eid AS id_a, b.eid AS id_b, CAST(a.user_id AS BIGINT) AS user_id,
       CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_s
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.eid < b.eid
 AND a.s <= b.e AND b.s <= a.e
"""



QUERIES = {
    "attribution_join": q_attribution_join,
    "tumbling_window": q_tumbling_window,
    "sliding_window": q_sliding_window,
    "session_window": q_session_window,
    "json_extract": q_json_extract,
    "event_dedup": q_event_dedup,
    "interval_join": q_interval_join,
}

ORACLES = {
    "attribution_join": O_ATTRIBUTION_JOIN,
    "tumbling_window": O_TUMBLING_WINDOW,
    "sliding_window": O_SLIDING_WINDOW,
    "session_window": O_SESSION_WINDOW,
    "json_extract": O_JSON_EXTRACT,
    "event_dedup": O_EVENT_DEDUP,
    "interval_join": O_INTERVAL_JOIN,
}


def q_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining one order up from
    [event_transitions]: frequent event-type TRIGRAMS per user stream,
    scored by lift of the order-2 model over the order-1 Markov model
    — lift = P(c | a,b) / P(c | b). Lift >> 1 means the 2-step history
    genuinely predicts the next action (a real funnel), lift ~ 1 means
    the pair adds nothing over the last event alone.

    Plan (100 TB): ONE shuffle on user_id feeds both lag windows (same
    window spec, Catalyst computes them in one Window op); trigram /
    bigram matrices are map-side-combined groupBys over frames whose
    cardinality is |types|^3 / |types|^2 — data-size-independent from
    there on. Conditional probabilities divide exact BIGINT counts.
    """
    t = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select("user_id", "ts", "event_id", "event_type").select(
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    )
    tri = (
        seq.filter(F.col("t1").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").cast("long").alias("support"))
    )
    tri_prefix = tri.groupBy("t1", "t2").agg(F.sum("support").alias("n12"))
    pairs = (
        seq.filter(F.col("t2").isNotNull())
        .groupBy("t2", "t3")
        .agg(F.count("*").cast("long").alias("n23"))
    )
    pair_prefix = pairs.groupBy("t2").agg(F.sum("n23").alias("n2"))
    return (
        tri.join(F.broadcast(tri_prefix), ["t1", "t2"])
        .join(F.broadcast(pairs), ["t2", "t3"])
        .join(F.broadcast(pair_prefix), "t2")
        .select(
            "t1",
            "t2",
            "t3",
            "support",
            fround(F.col("support") / F.col("n12"), 6).alias("p_cond"),
            fround(
                (F.col("support") / F.col("n12"))
                / (F.col("n23") / F.col("n2")),
                4,
            ).alias("lift"),
        )
    )


O_SEQUENCE_MINING = f"""
WITH seq AS (
  SELECT lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1,
         lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
         event_type AS t3
  FROM events
), tri AS (
  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS support
  FROM seq WHERE t1 IS NOT NULL GROUP BY 1, 2, 3
), tri_prefix AS (
  SELECT t1, t2, sum(support) AS n12 FROM tri GROUP BY 1, 2
), pairs AS (
  SELECT t2, t3, CAST(count(*) AS BIGINT) AS n23
  FROM seq WHERE t2 IS NOT NULL GROUP BY 1, 2
), pair_prefix AS (
  SELECT t2, sum(n23) AS n2 FROM pairs GROUP BY 1
)
SELECT t1, t2, t3, support,
       {o_fround("CAST(support AS DOUBLE) / n12", 6)} AS p_cond,
       {o_fround("(CAST(support AS DOUBLE) / n12) / (CAST(n23 AS DOUBLE) / n2)", 4)} AS lift
FROM tri
JOIN tri_prefix USING (t1, t2)
JOIN pairs USING (t2, t3)
JOIN pair_prefix USING (t2)
"""

QUERIES["sequence_mining"] = q_sequence_mining
ORACLES["sequence_mining"] = O_SEQUENCE_MINING


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type burstiness coefficient B = (σ−μ)/(σ+μ) over
    per-user inter-arrival gaps (Goh & Barabási 2008, public
    formulation): B→−1 is a regular heartbeat, B≈0 Poisson, B→1
    bursty sessions — the signal that decides sessionization gap
    thresholds and rate-limit budgets.

    Plan (100 TB): gaps come from a lag window partitioned by
    (user_id, event_type) — per-user-per-type slices stay small no
    matter the corpus, unlike a global per-type ordering which would
    put one event type in one partition. Gaps are microsecond-exact (unix_micros on both
    engines — unix_timestamp would truncate sub-second precision and
    break parity); μ/σ derive from decimal-folded gap sums per type
    (map-side combine); the final frame is |types| rows.
    """
    t = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        t["events"]
        .select(
            "user_id",
            "event_type",
            (
                (
                    F.unix_micros("ts")
                    - F.unix_micros(F.lag("ts").over(w))
                )
                / 1e6
            ).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.sum(F.col("gap_s").cast(DEC)).cast("double").alias("_s"),
            F.sum((F.col("gap_s") * F.col("gap_s")).cast(DEC))
            .cast("double")
            .alias("_s2"),
        )
        .select(
            "event_type",
            "n_gaps",
            fround(F.col("_s") / F.col("n_gaps"), 4).alias("mean_gap_s"),
            fround(
                (
                    F.sqrt(
                        F.col("_s2") / F.col("n_gaps")
                        - F.pow(F.col("_s") / F.col("n_gaps"), 2)
                    )
                    - F.col("_s") / F.col("n_gaps")
                )
                / (
                    F.sqrt(
                        F.col("_s2") / F.col("n_gaps")
                        - F.pow(F.col("_s") / F.col("n_gaps"), 2)
                    )
                    + F.col("_s") / F.col("n_gaps")
                ),
                6,
            ).alias("burstiness"),
        )
    )


O_BURSTINESS = f"""
WITH gaps AS (
  SELECT event_type,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id))) / 1e6 AS gap_s
  FROM events
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(CAST(gap_s AS DECIMAL(30,10))) AS DOUBLE) AS s,
         CAST(sum(CAST(gap_s * gap_s AS DECIMAL(30,10))) AS DOUBLE) AS s2
  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
)
SELECT event_type, n_gaps,
       {o_fround("s / n_gaps", 4)} AS mean_gap_s,
       {o_fround("(sqrt(s2 / n_gaps - pow(s / n_gaps, 2)) - s / n_gaps) / (sqrt(s2 / n_gaps - pow(s / n_gaps, 2)) + s / n_gaps)", 6)} AS burstiness
FROM agg
"""

QUERIES["burstiness"] = q_burstiness
ORACLES["burstiness"] = O_BURSTINESS


def q_moments_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type higher moments — skewness and excess kurtosis —
    computed from raw decimal power sums (Σv..Σv⁴) rather than the
    engines' native skewness()/kurtosis() aggregates, whose one-pass
    update formulas differ across engines in last-ulp ways. Raw sums
    fold exactly in DECIMAL, so the derived moments are identical
    doubles on both sides.

    Plan (100 TB): one map-side-combined groupBy; v⁴ ≤ ~1.2e10 at the
    observed value range (≤328), far inside DECIMAL(30,10) headroom
    even summed over billions of rows.
    """
    t = tables(spark, sf_dir, "events")
    v = F.col("value")
    agg = t["events"].groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v.cast(DEC)).cast("double").alias("s1"),
        F.sum((v * v).cast(DEC)).cast("double").alias("s2"),
        F.sum((v * v * v).cast(DEC)).cast("double").alias("s3"),
        F.sum((v * v * v * v).cast(DEC)).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * F.col("s2") / n + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * F.col("s3") / n
        + 6 * mu * mu * F.col("s2") / n
        - 3 * mu * mu * mu * mu
    )
    return agg.select(
        "event_type",
        n.cast("long").alias("n"),
        fround(mu, 4).alias("mean"),
        fround(F.sqrt(m2), 4).alias("stddev"),
        fround(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        fround(m4 / (m2 * m2) - 3, 6).alias("excess_kurtosis"),
    )


O_MOMENTS_STATS = f"""
WITH agg AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(30,10))) AS DOUBLE) AS s2,
         CAST(sum(CAST(value * value * value AS DECIMAL(30,10))) AS DOUBLE) AS s3,
         CAST(sum(CAST(value * value * value * value AS DECIMAL(30,10))) AS DOUBLE) AS s4
  FROM events GROUP BY 1
), m AS (
  SELECT event_type, n,
         s1 / n AS mu,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * s2 / n + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4 * (s1 / n) * s3 / n + 6 * (s1 / n) * (s1 / n) * s2 / n
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM agg
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       {o_fround("mu", 4)} AS mean,
       {o_fround("sqrt(m2)", 4)} AS stddev,
       {o_fround("m3 / pow(m2, 1.5)", 6)} AS skewness,
       {o_fround("m4 / (m2 * m2) - 3", 6)} AS excess_kurtosis
FROM m
"""

QUERIES["moments_stats"] = q_moments_stats
ORACLES["moments_stats"] = O_MOMENTS_STATS


# ------------------------------------------ activity streaks

def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands primitive (island key = day minus per-user day
    rank, constant exactly while days are consecutive). Output: top-10
    users by (max_streak, n_active_days, user_id) — a deterministic
    engagement leaderboard.

    Scale shape: the distinct (user, day) frame is bounded by
    users x calendar days; the only window runs PARTITIONED BY USER
    over that frame (no global ordering anywhere), and both groupBys
    are map-side combinable. The final top-10 is a TakeOrdered, not a
    global sort.
    """
    t = tables(spark, sf_dir, "events")
    days = t["events"].select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("g", F.date_sub(F.col("d"), F.row_number().over(w)))
    streaks = isl.groupBy("user_id", "g").agg(F.count("*").cast("long").alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("n_active_days"),
            F.max("len").cast("long").alias("max_streak"),
        )
        .orderBy(F.desc("max_streak"), F.desc("n_active_days"), "user_id")
        .limit(10)
    )


O_ACTIVITY_STREAKS = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
isl AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS g
  FROM days
),
streaks AS (SELECT user_id, g, count(*) AS len FROM isl GROUP BY 1, 2)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(max(len) AS BIGINT) AS max_streak
FROM streaks GROUP BY 1
ORDER BY max_streak DESC, n_active_days DESC, user_id LIMIT 10
"""

QUERIES["activity_streaks"] = q_activity_streaks
ORACLES["activity_streaks"] = O_ACTIVITY_STREAKS


# ------------------------------------------ inter-event arrival gaps

def q_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, the distribution of a user's inter-arrival
    time: count, mean, exact p50/p90 seconds between consecutive
    events of that type BY THE SAME USER — the cadence profile behind
    rate limiting, bot detection, and notification tuning.

    Scale shape: ONE lag window partitioned by (user, type) — never a
    global ordering; the gap in integer microseconds divided by 1e6
    is the identical IEEE op sequence in both engines. Exact
    percentiles aggregate per event_type (bounded key count); at
    extreme cardinality swap F.percentile for approx_percentile and
    re-accept the rank-error bound (the [quantile_digest] path).
    """
    t = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = (
        t["events"]
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("ts").over(w))
        .filter(F.col("prev").isNotNull())
        .withColumn(
            "gap_s",
            (F.unix_micros("ts") - F.unix_micros("prev")).cast("double") / F.lit(1000000.0),
        )
    )
    return (
        g.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            davg(F.col("gap_s"), 4).alias("mean_gap_s"),
            fround(F.percentile("gap_s", 0.5), 4).alias("p50_gap_s"),
            fround(F.percentile("gap_s", 0.9), 4).alias("p90_gap_s"),
        )
        .orderBy("event_type")
    )


O_INTER_EVENT_GAPS = f"""
WITH g AS (
  SELECT event_type,
         CAST(date_diff('microsecond',
              lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id),
              ts) AS DOUBLE) / 1000000.0 AS gap_s
  FROM events
  QUALIFY gap_s IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       {{O_DAVG}} AS mean_gap_s,
       {o_fround("quantile_cont(gap_s, 0.5)", 4)} AS p50_gap_s,
       {o_fround("quantile_cont(gap_s, 0.9)", 4)} AS p90_gap_s
FROM g GROUP BY 1 ORDER BY 1
"""

from data_ingestors_spark.queries.base import o_davg as _o_davg  # noqa: E402

O_INTER_EVENT_GAPS = O_INTER_EVENT_GAPS.replace("{O_DAVG}", _o_davg("gap_s", 4))

QUERIES["inter_event_gaps"] = q_inter_event_gaps
ORACLES["inter_event_gaps"] = O_INTER_EVENT_GAPS


# ------------------------------------------ Markov event transitions

def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    every (previous type -> type) step a user takes, the count and the
    row-normalized transition probability — the behavioral fingerprint
    behind next-action prediction, anomaly scoring (improbable step
    sequences), and funnel design.

    Scale shape: ONE lag window partitioned per user (bounded
    partitions, never a global sort); the transition groupBy partial
    aggregates map-side down to |types|^2 rows, and the probability
    window normalizes over THAT aggregate frame — 25 rows at any data
    scale. prob divides two exact BIGINTs in identical IEEE math.
    """
    t = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        t["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = steps.groupBy("prev_type", "event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    tw = Window.partitionBy("prev_type")
    return (
        counts.withColumn(
            "prob",
            fround(F.col("n").cast("double") / F.sum("n").over(tw), 6),
        )
        .orderBy("prev_type", "event_type")
    )


O_EVENT_TRANSITIONS = f"""
WITH steps AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type
  FROM events QUALIFY prev_type IS NOT NULL
),
c AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM steps GROUP BY 1, 2
)
SELECT prev_type, event_type, n,
       {o_fround("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)", 6)} AS prob
FROM c ORDER BY prev_type, event_type
"""

QUERIES["event_transitions"] = q_event_transitions
ORACLES["event_transitions"] = O_EVENT_TRANSITIONS


# ------------------------------------------ gap-based sessionization

def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level session statistics under 30-minute-gap
    sessionization: session count, users, events per session, bounce
    rate (single-event sessions), and mean session duration — the
    classic web-analytics rollup, computed from the raw stream in one
    pass (the batch twin of [session_window]'s streaming semantics,
    which uses Spark's native session_window and therefore cannot be
    oracle-matched cell-for-cell).

    Scale shape: the lag + running-sum windows are both partitioned
    per user — session ids never require a global ordering. The
    per-session groupBy keys on (user, session) and partial-aggregates
    map-side; the final reduce is a 1-row scalar frame. Durations are
    integer microsecond differences divided once — identical IEEE ops
    in both engines; means accumulate in DECIMAL via davg.
    """
    t = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ev = (
        t["events"]
        .select("user_id", "ts", "event_id")
        .withColumn(
            "is_new",
            F.when(gap_us.isNull() | (gap_us > 1800 * 1000000), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    per = ev.groupBy("user_id", "sid").agg(
        F.count("*").cast("long").alias("n_events"),
        (
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).cast("double")
            / F.lit(1000000.0)
        ).alias("dur_s"),
    )
    return per.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        davg(F.col("n_events").cast("double"), 4).alias("events_per_session"),
        davg(F.when(F.col("n_events") == 1, 1.0).otherwise(0.0), 6).alias("bounce_rate"),
        davg(F.col("dur_s"), 4).alias("mean_duration_s"),
    )


O_SESSION_STATS = f"""
WITH ev AS (
  SELECT user_id, ts, event_id,
         CASE WHEN date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
                   IS NULL
              OR date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
                   > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sid AS (
  SELECT user_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid,
         ts
  FROM ev
),
per AS (
  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
         CAST(date_diff('microsecond', min(ts), max(ts)) AS DOUBLE) / 1000000.0 AS dur_s
  FROM sid GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {o_davg("CAST(n_events AS DOUBLE)", 4)} AS events_per_session,
       {o_davg("CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END", 6)} AS bounce_rate,
       {o_davg("dur_s", 4)} AS mean_duration_s
FROM per
"""

QUERIES["session_stats"] = q_session_stats
ORACLES["session_stats"] = O_SESSION_STATS


# ------------------------------------------ new vs returning users

def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly active users split into new (first-ever event falls in
    that week) vs returning — the growth-accounting readout every
    activity dashboard leads with.

    Scale shape: the stream collapses FIRST to the distinct
    (user, week) frame via a partial-aggregated groupBy — the only
    shuffle that sees event volume; first weeks derive from that frame
    by a second groupBy(user) min, and the join back runs on
    user-week granularity (bounded by users x weeks, not events).
    ISO date_trunc('week') lands on Monday in both engines; emitted as
    DATE so the comparison is timezone-proof.
    """
    t = tables(spark, sf_dir, "events")
    uw = (
        t["events"]
        .select("user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week"))
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.min("week").alias("first_week"))
    return (
        uw.join(first, "user_id")
        .groupBy("week")
        .agg(
            F.count("*").cast("long").alias("n_active"),
            F.sum(F.when(F.col("week") == F.col("first_week"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("week") != F.col("first_week"), 1).otherwise(0))
            .cast("long")
            .alias("n_returning"),
        )
        .orderBy("week")
    )


O_NEW_VS_RETURNING = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
),
first AS (SELECT user_id, min(week) AS first_week FROM uw GROUP BY 1)
SELECT week,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(sum(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN week <> first_week THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
FROM uw JOIN first USING (user_id)
GROUP BY 1 ORDER BY 1
"""

QUERIES["new_vs_returning"] = q_new_vs_returning
ORACLES["new_vs_returning"] = O_NEW_VS_RETURNING


def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (WAU) next to the
    daily count (DAU) and the DAU/WAU stickiness ratio — the sliding
    COUNT(DISTINCT) product analytics needs and Spark windows can't
    express natively (no DISTINCT aggregates over frames).

    Exact reformulation: each distinct (user, day) activity covers
    days d..d+6, so WAU(d) = |distinct (user, cover_day)| restricted
    to real activity days. Shuffle volume is bounded by 7x the
    distinct (user, day) frame — one explode + one dedup + one count,
    never a per-day re-scan and no window over the raw corpus. At
    100 TB the (user, day) frame is the already-tiny daily-activity
    rollup; the 7x cover explode is linear in it.
    """
    t = tables(spark, sf_dir, "events")
    ud = t["events"].select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select("d").distinct()
    wau = (
        ud.select(
            "user_id",
            F.explode(F.sequence("d", F.date_add(F.col("d"), 6))).alias("d"),
        )
        .distinct()
        .join(days, "d")  # only days that actually occur
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("wau7"))
    )
    dau = ud.groupBy("d").agg(F.count("*").cast("long").alias("dau"))
    return (
        dau.join(wau, "d")
        .select(
            "d",
            "dau",
            "wau7",
            fround(F.col("dau") / F.col("wau7"), 6).alias("stickiness"),
        )
        .orderBy("d")
    )


O_ROLLING_DISTINCT = f"""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
days AS (SELECT DISTINCT d FROM ud),
wau AS (
  SELECT days.d, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau7
  FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
  GROUP BY 1
),
dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1)
SELECT d, dau, wau7, {o_fround("dau / CAST(wau7 AS DOUBLE)", 6)} AS stickiness
FROM dau JOIN wau USING (d)
ORDER BY d
"""

QUERIES["rolling_distinct"] = q_rolling_distinct
ORACLES["rolling_distinct"] = O_ROLLING_DISTINCT


def q_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time out-of-orderness audit — the table you size a
    streaming WATERMARK from: per event type, how many events arrive
    behind the per-user running event-time maximum, the worst and
    mean lateness (microsecond-exact), and the share of late events.
    Arrival order proxy is (ts, event_id) within user — the same
    deterministic order every sessionization query here uses.

    Plan (100 TB): per-user running-max window (user-bounded
    partitions, no global sort), then one partial-aggregable groupBy.
    """
    t = tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = t["events"].select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    lateness = F.greatest(
        F.coalesce(F.max("us").over(w) - F.col("us"), F.lit(0)), F.lit(0)
    )
    return (
        ev.withColumn("late_us", lateness)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_late"),
            F.max("late_us").cast("long").alias("max_late_us"),
            F.floor(
                F.sum(F.col("late_us").cast(DEC)).cast("double") / F.count("*")
            ).cast("long").alias("avg_late_us"),
            fround(
                F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0)) / F.count("*"), 6
            ).alias("late_frac"),
        )
        .orderBy("event_type")
    )


O_LATENESS_AUDIT = f"""
WITH ev AS (
  SELECT event_type, user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events
),
lat AS (
  SELECT event_type,
         greatest(coalesce(max(us) OVER (PARTITION BY user_id ORDER BY event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           - us, 0), 0) AS late_us
  FROM ev
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(max(late_us) AS BIGINT) AS max_late_us,
       CAST(floor(CAST(sum(CAST(late_us AS DECIMAL(30,10))) AS DOUBLE) / count(*)) AS BIGINT) AS avg_late_us,
       {o_fround("sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 6)} AS late_frac
FROM lat GROUP BY 1 ORDER BY 1
"""

QUERIES["lateness_audit"] = q_lateness_audit
ORACLES["lateness_audit"] = O_LATENESS_AUDIT


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 session entry paths: the first three event types of each
    30-minute-gap session, concatenated — the Sankey-diagram input
    that shows how users actually enter the product
    ([q_session_stats] sizes sessions; this names them).

    Session ids come from the same lag + running-sum construction as
    session_stats (per-user windows only, (ts, event_id) order);
    the path is a row_number <= 3 filter + an order-preserving
    array_agg collapsed per session. Counts rank with the full
    (n desc, path) tiebreak so the top-25 set is engine-exact.

    Plan (100 TB): two per-user window passes + one groupBy per
    session + one |paths|-sized count — no global sort until the
    final 25-row TakeOrdered."""
    t = tables(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    ev = (
        t["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("sess", F.sum(new_sess).over(wu))
    )
    ws = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    first3 = (
        ev.withColumn("pos", F.row_number().over(ws))
        .filter(F.col("pos") <= 3)
        .groupBy("user_id", "sess")
        .agg(
            F.concat_ws(
                ">", F.array_sort(F.collect_list(F.struct("pos", "event_type"))).getField("event_type")
            ).alias("path")
        )
    )
    return (
        first3.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(25)
    )


O_SESSION_PATHS = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
  FROM ev
),
first3 AS (
  SELECT user_id, sess,
         string_agg(event_type, '>' ORDER BY pos) AS path
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, sess ORDER BY ts, event_id) AS pos
    FROM sess
  ) WHERE pos <= 3
  GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM first3 GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT 25
"""

QUERIES["session_paths"] = q_session_paths
ORACLES["session_paths"] = O_SESSION_PATHS


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-to-purchase conversion latency: for every purchase, the
    time since the SAME user's most recent prior view within 1 hour
    (the attribution pairing of [q_attribution_join], reduced to its
    nearest match), summarized as count / mean / p50 / p90 seconds —
    the funnel-speed table next to funnel_windowed's conversion
    counts.

    Plan (100 TB): one shuffle on user_id for the bounded pair join,
    per-purchase nearest-view via max (no window over raw events),
    one global aggregate; percentiles use the hash-portable
    interpolated pair. Integer microsecond deltas until the final
    divisions."""
    t = tables(spark, sf_dir, "events")
    ev = t["events"]
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    nearest = (
        v.join(p, "user_id")
        .filter(
            (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("purchase_id")
        .agg(
            (
                F.min(F.unix_micros("p_ts") - F.unix_micros("v_ts"))
            ).alias("delay_us")
        )
    )
    return nearest.agg(
        F.count("*").cast("long").alias("n_conversions"),
        fround(
            F.sum(F.col("delay_us").cast(DEC)).cast("double") / F.count("*") / 1e6, 4
        ).alias("avg_delay_s"),
        fround(F.percentile("delay_us", 0.5) / 1e6, 4).alias("p50_delay_s"),
        fround(F.percentile("delay_us", 0.9) / 1e6, 4).alias("p90_delay_s"),
    )


O_CONVERSION_LATENCY = f"""
WITH nearest AS (
  SELECT p.event_id AS purchase_id,
         min(epoch_us(p.ts) - epoch_us(v.ts)) AS delay_us
  FROM events v JOIN events p
    ON v.user_id = p.user_id
   AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
  WHERE v.event_type = 'view' AND p.event_type = 'purchase'
  GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_conversions,
       {o_fround("CAST(sum(CAST(delay_us AS DECIMAL(30,10))) AS DOUBLE) / count(*) / 1e6", 4)} AS avg_delay_s,
       {o_fround("quantile_cont(delay_us, 0.5) / 1e6", 4)} AS p50_delay_s,
       {o_fround("quantile_cont(delay_us, 0.9) / 1e6", 4)} AS p90_delay_s
FROM nearest
"""

QUERIES["conversion_latency"] = q_conversion_latency
ORACLES["conversion_latency"] = O_CONVERSION_LATENCY


def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour activity heatmap: event counts and corpus
    share per (dow, hour) cell — the capacity-planning / anomaly
    baseline grid ([q_seasonality_strength] scores the weekly signal;
    this draws it). Portable dow (datediff-mod-7 from a known
    Monday), UTC hour.

    Plan (100 TB): ONE partial-aggregable groupBy to <=168 cells; the
    share joins a broadcast 1-row total."""
    t = tables(spark, sf_dir, "events")
    d = t["events"].select(
        F.pmod(
            F.datediff(F.to_date("ts"), F.lit("1970-01-05").cast("date")), F.lit(7)
        ).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    )
    cells = d.groupBy("dow", "hour").agg(F.count("*").cast("long").alias("n_events"))
    tot = cells.agg(F.sum("n_events").cast("long").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            "n_events",
            fround(F.col("n_events") / F.col("n_total"), 6).alias("share"),
        )
        .orderBy("dow", "hour")
    )


O_ACTIVITY_HEATMAP = f"""
WITH cells AS (
  SELECT CAST((datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7 + 7) % 7 AS INTEGER) AS dow,
         CAST(extract(hour FROM ts) AS INTEGER) AS hour,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS n_total FROM cells)
SELECT dow, hour, n_events,
       {o_fround("n_events / CAST(n_total AS DOUBLE)", 6)} AS share
FROM cells CROSS JOIN tot
ORDER BY dow, hour
"""

QUERIES["activity_heatmap"] = q_activity_heatmap
ORACLES["activity_heatmap"] = O_ACTIVITY_HEATMAP


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the classic growth curve,
    computed WITHOUT any sliding distinct set: a user contributes at
    their FIRST activity day, so the curve is a running sum of
    first-day counts over the |days|-sized frame ([q_rolling_distinct]
    is the windowed sibling; this is the monotone total).

    Plan (100 TB): distinct (user, day) partial agg -> per-user min
    (one groupBy) -> |days|-row running sum. The window sorts DAYS,
    not events."""
    t = tables(spark, sf_dir, "events")
    ud = t["events"].select("user_id", F.to_date("ts").alias("d")).distinct()
    firsts = ud.groupBy("user_id").agg(F.min("d").alias("d"))
    per_day = firsts.groupBy("d").agg(F.count("*").cast("long").alias("n_new"))
    days = ud.select("d").distinct()
    filled = days.join(per_day, "d", "left").na.fill({"n_new": 0})
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        filled.select(
            "d",
            F.col("n_new"),
            F.sum("n_new").over(w).cast("long").alias("cumulative_users"),
        )
        .orderBy("d")
    )


O_CUMULATIVE_USERS = """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
firsts AS (SELECT user_id, min(d) AS d FROM ud GROUP BY 1),
per_day AS (SELECT d, CAST(count(*) AS BIGINT) AS n_new FROM firsts GROUP BY 1),
days AS (SELECT DISTINCT d FROM ud)
SELECT d, CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
       CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users
FROM days LEFT JOIN per_day USING (d)
ORDER BY d
"""

QUERIES["cumulative_users"] = q_cumulative_users
ORACLES["cumulative_users"] = O_CUMULATIVE_USERS


def q_rapid_repeat_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-repeat audit: per event type, how many events arrive
    within 1 hour of the SAME user's PREVIOUS event of the same type
    — the client-retry / double-fire screen an event pipeline runs
    before trusting counts ([q_inter_event_gaps] profiles the healthy
    cadence; this flags the pathological tail).

    Determinism: the lag ordering is (ts, event_id) — the proven
    total order for the event stream.

    Plan (100 TB): ONE window pass partitioned by (user, type) — the
    same key the sessionization family already shuffles on — then a
    |types|-row conditional aggregate. No joins."""
    t = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    g = t["events"].select(
        "event_type", gap.alias("gap_us")
    )
    hour_us = 3_600_000_000
    return (
        g.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(F.col("gap_us") <= hour_us, 1).otherwise(0))
            .cast("long")
            .alias("n_rapid"),
            F.min("gap_us").alias("min_gap_us"),
        )
        .select(
            "event_type",
            "n_events",
            "n_rapid",
            fround(F.col("n_rapid") / F.col("n_events"), 6).alias("rapid_rate"),
            "min_gap_us",
        )
        .orderBy("event_type")
    )


O_RAPID_REPEAT_EVENTS = f"""
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN gap_us <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rapid,
       {o_fround("sum(CASE WHEN gap_us <= 3600000000 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 6)} AS rapid_rate,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us
FROM g GROUP BY 1 ORDER BY 1
"""

QUERIES["rapid_repeat_events"] = q_rapid_repeat_events
ORACLES["rapid_repeat_events"] = O_RAPID_REPEAT_EVENTS


def q_user_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every event-type pair, the
    distinct-user intersection, union, and Jaccard — the 'do these
    features share an audience' readout product teams ask for
    ([q_event_transitions] is sequential; this is set overlap).

    Plan (100 TB): distinct (user, type) collapses map-side to
    |users|x|types| ids; the pair enumeration self-joins per USER
    (O(t²) in the user's type count, t <= |types| — bounded by the
    type vocabulary, never corpus-quadratic); per-type distinct
    counts are a |types|-row frame broadcast onto the |types|²-row
    pair frame."""
    t = tables(spark, sf_dir, "events")
    ut = t["events"].select("user_id", "event_type").distinct()
    # uncapped: a user's basket is bounded by the event-type vocabulary
    inter = basket_pairs(ut, "user_id", "event_type").select(
        F.col("item_a").alias("type_a"), F.col("item_b").alias("type_b"), "n_both"
    )
    per = ut.groupBy("event_type").agg(F.count("*").cast("long").alias("n_users"))
    return (
        inter.join(
            F.broadcast(per.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(per.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("long").alias("n_union"),
            fround(
                F.col("n_both") / (F.col("n_a") + F.col("n_b") - F.col("n_both")), 6
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


O_USER_OVERLAP_MATRIX = f"""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users FROM ut GROUP BY 1)
SELECT type_a, type_b, pa.n_users AS n_a, pb.n_users AS n_b, n_both,
       CAST(pa.n_users + pb.n_users - n_both AS BIGINT) AS n_union,
       {o_fround("n_both / CAST(pa.n_users + pb.n_users - n_both AS DOUBLE)", 6)} AS jaccard
FROM inter
JOIN per pa ON pa.event_type = type_a
JOIN per pb ON pb.event_type = type_b
ORDER BY type_a, type_b
"""

QUERIES["user_overlap_matrix"] = q_user_overlap_matrix
ORACLES["user_overlap_matrix"] = O_USER_OVERLAP_MATRIX


def q_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly summary: each event type's daily mean
    value scored against its own trailing-7-day mean/std (rows frame,
    full windows only); reported as per-type day counts, anomaly
    counts at |z| > 2, and the max |z| — the baseline detector that
    [q_stl_anomaly] and [q_cusum_changepoint] refine.

    Exactness: daily means are decimal-exact; rolling sums fold those
    doubles in decimal (order-free), so mean/std/z are engine-
    identical doubles before rounding.

    Plan (100 TB): the corpus collapses to |types| x |days| daily
    cells first; the window slides over THAT aggregated frame
    partitioned by type. One scan, two bounded shuffles."""
    t = tables(spark, sf_dir, "events")
    daily = (
        t["events"]
        .groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(
            (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*")).alias("x")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    roll = daily.select(
        "event_type",
        "day",
        "x",
        F.count("*").over(w).alias("n_w"),
        (F.sum(F.col("x").cast(DEC)).over(w).cast("double")).alias("s_w"),
        (F.sum((F.col("x") * F.col("x")).cast(DEC)).over(w).cast("double")).alias("ss_w"),
    ).filter(F.col("n_w") == 7)
    mean = F.col("s_w") / 7
    var = (F.col("ss_w") - 7 * mean * mean) / 6
    z = (F.col("x") - mean) / F.sqrt(var)
    scored = roll.select("event_type", z.alias("z"))
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days_scored"),
            F.sum(F.when(F.abs(F.col("z")) > 2, 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies"),
            fround(F.max(F.abs(F.col("z"))), 6).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


O_ROLLING_ZSCORE_ANOMALIES = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS x
  FROM events GROUP BY 1, 2
),
roll AS (
  SELECT event_type, x,
         count(*) OVER w AS n_w,
         CAST(sum(CAST(x AS DECIMAL(30,10))) OVER w AS DOUBLE) AS s_w,
         CAST(sum(CAST(x * x AS DECIMAL(30,10))) OVER w AS DOUBLE) AS ss_w
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT event_type,
         (x - s_w / 7) / sqrt((ss_w - 7 * (s_w / 7) * (s_w / 7)) / 6) AS z
  FROM roll WHERE n_w = 7
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days_scored,
       CAST(sum(CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       {o_fround("max(abs(z))", 6)} AS max_abs_z
FROM scored GROUP BY 1 ORDER BY 1
"""

QUERIES["rolling_zscore_anomalies"] = q_rolling_zscore_anomalies
ORACLES["rolling_zscore_anomalies"] = O_ROLLING_ZSCORE_ANOMALIES


def q_rate_outlier_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse rate screen: the 20 users with the highest events-
    per-active-day rate, with the global mean rate for context — the
    traffic-hygiene cut before any per-user statistic trusts the
    stream ([q_rapid_repeat_events] flags burst timing; this flags
    sustained volume).

    Determinism: top-20 by (rate desc, user_id asc), rates are exact
    integer ratios rounded for output only.

    Plan (100 TB): per-user (events, active days) is one groupBy with
    a distinct-day conditional; the global mean is a 1-row broadcast;
    the top-20 is a TakeOrdered, no global sort."""
    t = tables(spark, sf_dir, "events")
    per = t["events"].groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct(F.date_trunc("day", F.col("ts")).cast("date"))
        .cast("long")
        .alias("days_active"),
    )
    rate = F.col("n_events") / F.col("days_active")
    glob = per.agg(
        (F.sum("n_events") / F.sum("days_active")).alias("global_rate")
    )
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            "user_id",
            "n_events",
            "days_active",
            fround(rate, 6).alias("events_per_day"),
            fround(F.col("global_rate"), 6).alias("global_rate"),
            fround(rate / F.col("global_rate"), 6).alias("rate_ratio"),
        )
        .orderBy(F.desc("events_per_day"), "user_id")
        .limit(20)
    )


O_RATE_OUTLIER_USERS = f"""
WITH per AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS days_active
  FROM events GROUP BY 1
),
gtot AS (SELECT sum(n_events) / CAST(sum(days_active) AS DOUBLE) AS global_rate FROM per)
SELECT user_id, n_events, days_active,
       {o_fround("n_events / CAST(days_active AS DOUBLE)", 6)} AS events_per_day,
       {o_fround("global_rate", 6)} AS global_rate,
       {o_fround("(n_events / CAST(days_active AS DOUBLE)) / global_rate", 6)} AS rate_ratio
FROM per CROSS JOIN gtot
ORDER BY events_per_day DESC, user_id
LIMIT 20
"""

QUERIES["rate_outlier_users"] = q_rate_outlier_users
ORACLES["rate_outlier_users"] = O_RATE_OUTLIER_USERS


def q_props_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-props profile: the payload key ``k`` extracted from the
    props JSON column per event type — coverage (non-null rate),
    distinct values, exact decimal mean, and max — the payload-schema
    audit a pipeline runs before promoting a JSON field to a real
    column ([map_funcs] exercises the scalar surface; this aggregates
    through the extraction).

    get_json_object('$.k') == DuckDB json_extract ->> casts: both
    yield the integer string, cast to BIGINT identically.

    Plan (100 TB): the JSON path is a row-local projection; ONE
    conditional aggregate to |types| rows."""
    t = tables(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        t["events"]
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_with_k"),
            F.countDistinct("k").cast("long").alias("ndv_k"),
            fround(
                F.sum(F.col("k").cast(DEC)).cast("double")
                / F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)),
                6,
            ).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


O_PROPS_VALUE_PROFILE = f"""
WITH x AS (
  SELECT event_type, CAST(props ->> '$.k' AS BIGINT) AS k FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
       CAST(count(DISTINCT k) AS BIGINT) AS ndv_k,
       {o_fround("CAST(sum(CAST(k AS DECIMAL(30,10))) AS DOUBLE) / sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)", 6)} AS avg_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM x GROUP BY 1 ORDER BY 1
"""

QUERIES["props_value_profile"] = q_props_value_profile
ORACLES["props_value_profile"] = O_PROPS_VALUE_PROFILE


def q_events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of event volume across users, per event type —
    the one-number inequality readout behind [q_rate_outlier_users]'
    top-20 (a type whose volume Gini approaches 1 is a bot funnel,
    not a feature).

    Uses the ranked-cumulative form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    over per-user counts sorted ascending (ties broken by user id) —
    the same engine-exact construction as [q_gini_concentration].

    Plan (100 TB): per-(type, user) counts collapse first; the rank
    window rides that aggregated frame partitioned BY TYPE."""
    t = tables(spark, sf_dir, "events")
    per = t["events"].groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = per.select(
        "event_type",
        "x",
        F.row_number().over(w).alias("i"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("x").cast("long").alias("n_events"),
            fround(
                2
                * F.sum((F.col("i") * F.col("x")).cast(DEC)).cast("double")
                / (F.count("*") * F.sum("x").cast(DEC).cast("double"))
                - (F.count("*") + 1) / F.count("*").cast("double"),
                6,
            ).alias("gini"),
        )
        .orderBy("event_type")
    )


O_EVENTS_USER_GINI = f"""
WITH per AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) AS i
  FROM per
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(x) AS BIGINT) AS n_events,
       {o_fround("2 * CAST(sum(CAST(i * x AS DECIMAL(30,10))) AS DOUBLE) / (count(*) * CAST(CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS DOUBLE)) - (count(*) + 1) / CAST(count(*) AS DOUBLE)", 6)} AS gini
FROM ranked GROUP BY 1 ORDER BY 1
"""

QUERIES["events_user_gini"] = q_events_user_gini
ORACLES["events_user_gini"] = O_EVENTS_USER_GINI


def q_value_concentration_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value concentration per event type: the share of total event
    value carried by the type's top-10 users — the whale-dependence
    number next to [q_events_user_gini]'s distribution-wide score
    (a type where 10 users carry half the value is a partnership,
    not a product).

    Determinism: top-10 by (decimal-exact user value desc, user_id).

    Plan (100 TB): per-(type, user) value sums collapse first; the
    rank window rides that aggregated frame partitioned BY TYPE; one
    conditional aggregate ends it."""
    t = tables(spark, sf_dir, "events")
    per = t["events"].groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast(DEC)).alias("uval")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("uval"), F.asc("user_id"))
    ranked = per.select(
        "event_type",
        "uval",
        F.row_number().over(w).alias("rnk"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            fround(F.sum(F.col("uval")).cast("double"), 2).alias("total_value"),
            fround(
                F.sum(F.when(F.col("rnk") <= 10, F.col("uval")).otherwise(0)).cast(
                    "double"
                )
                / F.sum(F.col("uval")).cast("double"),
                6,
            ).alias("top10_share"),
        )
        .orderBy("event_type")
    )


O_VALUE_CONCENTRATION_TOPK = f"""
WITH per AS (
  SELECT event_type, user_id,
         sum(CAST(value AS DECIMAL(30,10))) AS uval
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, uval,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY uval DESC, user_id) AS rnk
  FROM per
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       {o_fround("CAST(sum(uval) AS DOUBLE)", 2)} AS total_value,
       {o_fround("CAST(sum(CASE WHEN rnk <= 10 THEN uval ELSE 0 END) AS DOUBLE) / CAST(sum(uval) AS DOUBLE)", 6)} AS top10_share
FROM ranked GROUP BY 1 ORDER BY 1
"""

QUERIES["value_concentration_topk"] = q_value_concentration_topk
ORACLES["value_concentration_topk"] = O_VALUE_CONCENTRATION_TOPK
