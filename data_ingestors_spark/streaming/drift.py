"""Streaming drift monitor: incremental Population Stability Index
against a FROZEN baseline — the train/serve-skew alarm.

The batch query (queries/planning.py:q_psi_drift) compares two time
halves of a static table. In production the reference distribution is
frozen once (training data) and the serving stream drifts against it.
This twin does exactly that:

- ``psi_baseline`` bins the reference frame ONCE into equal-width
  cells over the reference min/max (data-derived, engine-portable —
  identical binning to the batch query) and persists (event_type,
  bin, c_ref, t_ref, vmin, vmax).
- ``stream_psi_fold`` folds each micro-batch's (event_type, bin)
  counts into a batch-keyed store (streaming/batches.py) — counts are
  additive, so the read side just sums the partials.
- ``read_psi`` merges the partials and computes the same Laplace-
  smoothed PSI arithmetic as the batch query, with one deliberate
  difference: smoothing runs over the FULL fixed n_bins grid (the
  frozen-baseline setting knows its bin count up front), where the
  batch query's denominator counts OBSERVED cells — identical
  whenever every bin is populated, which the equal-width global-range
  binning makes the common case. The fold-merge equality is asserted
  against an identical-arithmetic ground truth in
  tests/test_streaming.py (two waves + checkpoint replay).

Scale: per-batch partials are |types| x 10 rows; the read-side merge
shuffles one row per (type, bin, batch) — compact with the rollup's
offline fold pattern when batch count grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestors_spark.streaming.batches import start_folds, write_batch

DEC = "decimal(30,10)"


def _bin_col(vmin, vmax, n_bins: int = 10):
    # Degenerate-range guard: a constant-valued reference column makes
    # (vmax - vmin) zero and the division NaN — which floor/greatest
    # would propagate into a silent all-rows null bin. Pin everything
    # to bin 0 instead (one bin is the honest histogram of a constant).
    return (
        F.when(vmax == vmin, F.lit(0))
        .otherwise(
            F.least(
                F.greatest(
                    F.floor((F.col("value") - vmin) / ((vmax - vmin) / n_bins)),
                    F.lit(0),
                ),
                F.lit(n_bins - 1),
            )
        )
        .cast("int")
    )


def psi_baseline(ref: DataFrame, *, n_bins: int = 10) -> DataFrame:
    """Freeze the reference distribution: equal-width bins over the
    reference min/max, counts per (event_type, bin). Returns the
    baseline frame to persist next to the stream store."""
    rng = ref.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    cells = (
        ref.crossJoin(F.broadcast(rng))
        .groupBy("event_type", _bin_col(F.col("vmin"), F.col("vmax"), n_bins).alias("bin"))
        .agg(
            F.count("*").cast("long").alias("c_ref"),
            F.first("vmin").alias("vmin"),
            F.first("vmax").alias("vmax"),
        )
    )
    tot = cells.groupBy("event_type").agg(F.sum("c_ref").cast("long").alias("t_ref"))
    return cells.join(tot, "event_type")


def stream_psi_fold(
    events: DataFrame,
    baseline: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    n_bins: int = 10,
    available_now: bool = False,
):
    """Fold a value stream into batch-keyed (event_type, bin) count
    partials, binned by the FROZEN baseline edges."""
    edges = F.broadcast(
        baseline.select("event_type", "vmin", "vmax").distinct()
    )

    def fold(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.join(edges, "event_type")
            .groupBy(
                "event_type",
                _bin_col(F.col("vmin"), F.col("vmax"), n_bins).alias("bin"),
            )
            .agg(F.count("*").cast("long").alias("c_new"))
        )
        write_batch(partial, store_path, batch_id)

    return start_folds(events, checkpoint, fold, available_now)


def read_psi(
    spark: SparkSession, store_path: str, baseline: DataFrame, *, n_bins: int = 10
) -> DataFrame:
    """Merge the folded partials and score PSI(stream ‖ baseline) per
    event type with the batch query's exact arithmetic (+1 Laplace
    smoothing over the FULL n_bins grid so empty bins match)."""
    partials = spark.read.parquet(store_path)
    new = partials.groupBy("event_type", "bin").agg(
        F.sum("c_new").cast("long").alias("c_new")
    )
    # full grid per type so bins observed in neither frame still smooth
    grid = baseline.select("event_type").distinct().crossJoin(
        F.broadcast(
            spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
        )
    )
    cells = (
        grid.join(baseline.select("event_type", "bin", "c_ref", "t_ref"), ["event_type", "bin"], "left")
        .join(new, ["event_type", "bin"], "left")
        .fillna(0, subset=["c_ref", "c_new"])
    )
    tot = cells.groupBy("event_type").agg(
        F.max("t_ref").alias("t_ref"),
        F.sum("c_new").cast("long").alias("t_new"),
        F.count("*").cast("long").alias("n_bins"),
    )
    t = cells.drop("t_ref").join(tot, "event_type")
    p_ref = (F.col("c_ref") + 1) / (F.col("t_ref") + F.col("n_bins"))
    p_new = (F.col("c_new") + 1) / (F.col("t_new") + F.col("n_bins"))
    terms = t.select(
        "event_type", ((p_new - p_ref) * F.log(p_new / p_ref)).alias("term")
    )
    return terms.groupBy("event_type").agg(
        F.sum(F.col("term").cast(DEC)).cast("double").alias("psi")
    )
