"""Streaming quantiles: incremental mergeable centroid digests over a
value stream.

Per micro-batch, compress the batch's values into <= B equal-weight
centroids (operators/digest.py) and write them as one layer of a
batch-keyed store (streaming/batches.py) — centroid sets merge by
UNION, so the cumulative digest is just the concatenation of
partials, and any quantile is answered from the merged centroid frame
at read time.

This is the streaming percentile monitor for ingest pipelines: track
p50/p99 of document length / score / latency over an unbounded stream
with bounded state (B centroids per batch, compacted offline), no
global sort, and rank error bounded by ~2/B per merge level.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession

from data_ingestors_spark.streaming.batches import start_folds, write_batch


def digest_fold_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    col: str,
    b: int = 200,
) -> None:
    """Write one micro-batch's centroid digest as batch ``batch_id``."""
    from data_ingestors_spark.operators.digest import build_digest

    write_batch(build_digest(batch_df, col, b), store_path, batch_id)


def stream_quantile_digest(
    values: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    col: str = "value",
    b: int = 200,
    available_now: bool = False,
):
    """Fold a value stream into batch-keyed centroid digests; answer
    quantiles with ``read_stream_quantiles``."""
    return start_folds(
        values,
        checkpoint,
        partial(digest_fold_batch, store_path=store_path, col=col, b=b),
        available_now,
    )


def read_stream_quantiles(
    spark: SparkSession, store_path: str, quantiles: list[float], b: int = 200
) -> DataFrame:
    """Merge all batch digests and interpolate the requested
    quantiles — the same math as the batch operator over the union of
    all folded values, within the digest's rank-error bound."""
    from data_ingestors_spark.operators.digest import merge_digest_quantiles

    centroids = spark.read.parquet(store_path).select("c_mean", "c_weight")
    return merge_digest_quantiles(centroids, quantiles, b)
