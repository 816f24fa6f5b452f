"""Streaming heavy hitters: incremental exact frequent-item counts
over a token stream.

The batch operator (operators/sketches.py:heavy_hitter_candidates +
the verify join in queries/statistics.py) answers "which values carry
>= s of all occurrences" in one pass. The streaming twin maintains the
same answer INCREMENTALLY: each micro-batch writes its own per-value
counts as one layer of a batch-keyed store (streaming/batches.py) —
counts are additive, so the cumulative answer is a groupBy-sum over
the partials.

Scale: the per-batch partial is a combiner-friendly groupBy bounded by
the batch's distinct values; the read-side merge shuffles one row per
(value, batch) — compact with ``compact_counts`` once batch count
grows.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestors_spark.streaming.batches import compact_batches, start_folds, write_batch


def counts_fold_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    col: str,
) -> None:
    """Write one micro-batch's exact value counts as batch ``batch_id``."""
    write_batch(
        batch_df.groupBy(F.col(col).alias("w")).agg(F.count("*").cast("long").alias("cnt")),
        store_path,
        batch_id,
    )


def stream_heavy_hitters(
    tokens: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    col: str = "w",
    available_now: bool = False,
):
    """Fold a token stream into batch-keyed count partials; read the
    current heavy-hitter set with ``read_heavy_hitters``."""
    return start_folds(
        tokens,
        checkpoint,
        partial(counts_fold_batch, store_path=store_path, col=col),
        available_now,
    )


def read_heavy_hitters(
    spark: SparkSession, store_path: str, support_num: int, support_den: int
) -> DataFrame:
    """Merge the count partials and apply the support threshold against
    the CUMULATIVE total — same integer arithmetic as the batch query,
    so the streaming answer equals the batch operator over the union
    of all folded batches."""
    partials = spark.read.parquet(store_path)
    counts = partials.groupBy("w").agg(F.sum("cnt").cast("long").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * support_den >= support_num * F.col("n"))
        .select("w", "cnt")
    )


def compact_counts(spark: SparkSession, store_path: str) -> None:
    """Fold all batch partials into a single summed __batch=-1 layer
    (crash-safe swap, see ``batches.compact_batches``) — bounds the
    read-side merge width. Safe against replay: a re-run batch would
    overwrite its (now deleted) partition, and additive merge absorbs
    it."""
    compact_batches(
        spark,
        store_path,
        merge=lambda partials: partials.groupBy("w").agg(
            F.sum("cnt").cast("long").alias("cnt")
        ),
    )
