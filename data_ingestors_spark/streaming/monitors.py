"""Streaming pipeline monitors: incremental freshness and
column-profile drift — the other two audits a production ingest
pipeline runs continuously next to the PSI monitor (drift.py).

Batch twins: queries/planning.py q_freshness_audit (per-type last
event age vs the global data-derived anchor) and q_profile_drift
(per-type counts / exact decimal means / distinct-user NDV deltas).
Both twins follow drift.py's exactly-once fold contract:

- ``stream_*_fold`` writes each micro-batch's per-type partials into
  a batch-keyed store (streaming/batches.py) — every statistic stored
  is decomposable (count, sum, min, max, and the (type, user) partial
  rows that make COUNT(DISTINCT) mergeable), so partials from any set
  of batches merge exactly.
- ``read_*`` merges the partials with the batch query's exact
  arithmetic (decimal sums for means, microsecond-integer ages), so
  fold(waves) == batch(union of waves) — asserted with checkpoint
  replay in tests/test_streaming.py.

Scale: freshness partials are |types| rows per batch. Profile
partials are |types x active users in the batch| rows — the exact-NDV
cost (the batch twin pays it in the COUNT(DISTINCT) shuffle); compact
the store offline (sum the per-(type, user) rows across batches) when
batch count grows, or swap the user column for an HLL sketch column
when estimated NDV is acceptable — the fold/read seam is built for
that substitution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestors_spark.streaming.batches import start_folds, write_batch

DEC = "decimal(30,10)"

#: staleness SLA matching the batch audit (1 hour, microseconds)
STALE_SLA_US = 3_600_000_000


# ---------------------------------------------------------------- freshness


def stream_freshness_fold(
    events: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    available_now: bool = False,
):
    """Fold an event stream into batch-keyed per-type freshness
    partials: (event_type, n, last_us, first_us). All three merge
    (sum / max / min), so the read side reconstructs the batch
    audit exactly."""

    def fold(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.min(F.unix_micros("ts")).alias("first_us"),
        )
        write_batch(partial, store_path, batch_id)

    return start_folds(events, checkpoint, fold, available_now)


def read_freshness(spark: SparkSession, store_path: str) -> DataFrame:
    """Merge the folded partials into the batch audit's exact output:
    per type (n_events, last_us, staleness vs the global data-derived
    anchor, is_stale at the 1 h SLA, span_us). The anchor is the max
    event time seen ANYWHERE in the stream so far — never wall-clock,
    same contract as the batch query."""
    per = (
        spark.read.parquet(store_path)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.max("last_us").alias("last_us"),
            F.min("first_us").alias("first_us"),
        )
    )
    anchor = per.agg(F.max("last_us").alias("anchor_us"))
    return (
        per.crossJoin(F.broadcast(anchor))
        .select(
            "event_type",
            "n_events",
            "last_us",
            (F.col("anchor_us") - F.col("last_us")).alias("staleness_us"),
            (F.col("anchor_us") - F.col("last_us") > STALE_SLA_US)
            .cast("boolean")
            .alias("is_stale"),
            (F.col("last_us") - F.col("first_us")).alias("span_us"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------------- profile drift


def profile_baseline(ref: DataFrame) -> DataFrame:
    """Freeze the reference column profile: per event_type the row
    count, exact decimal value sum, and distinct-user NDV. Persist
    next to the stream store (same framing as psi_baseline: the
    training corpus is profiled once; the serving stream drifts
    against it)."""
    return ref.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_ref"),
        F.sum(F.col("value").cast(DEC)).alias("sum_ref"),
        F.countDistinct("user_id").cast("long").alias("ndv_user_ref"),
    )


def stream_profile_fold(
    events: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    available_now: bool = False,
):
    """Fold the serving stream into batch-keyed (event_type, user_id)
    partials — count and exact decimal value sum per cell. Keeping
    the user grain (not just per-type totals) is what makes
    COUNT(DISTINCT user_id) mergeable across batches without a
    sketch; see the module docstring for the HLL swap at extreme
    user cardinality."""

    def fold(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type", "user_id").agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("value").cast(DEC)).alias("sum_val"),
        )
        write_batch(partial, store_path, batch_id)

    return start_folds(events, checkpoint, fold, available_now)


def read_profile_drift(
    spark: SparkSession, store_path: str, baseline: DataFrame
) -> DataFrame:
    """Merge the folded partials and report drift vs the frozen
    baseline with the batch query's exact arithmetic: per type the
    stream/baseline row counts, volume ratio, decimal-exact means
    and mean delta, and the two NDVs. Types present on either side
    only still report (full outer join), with zero counts."""
    from data_ingestors_spark.functions.rounding import fround

    partials = spark.read.parquet(store_path)
    new = partials.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_new"),
        F.sum(F.col("sum_val").cast(DEC)).alias("sum_new"),
        F.countDistinct("user_id").cast("long").alias("ndv_user_new"),
    )
    j = baseline.join(new, "event_type", "full").fillna(
        0, subset=["n_ref", "n_new", "ndv_user_ref", "ndv_user_new"]
    )
    avg_ref = F.col("sum_ref").cast("double") / F.col("n_ref")
    avg_new = F.col("sum_new").cast("double") / F.col("n_new")
    return j.select(
        "event_type",
        F.col("n_ref"),
        F.col("n_new"),
        fround(F.col("n_new") / F.col("n_ref"), 6).alias("volume_ratio"),
        fround(avg_ref, 4).alias("avg_value_ref"),
        fround(avg_new, 4).alias("avg_value_new"),
        fround(avg_new - avg_ref, 4).alias("avg_value_delta"),
        "ndv_user_ref",
        "ndv_user_new",
    ).orderBy("event_type")
