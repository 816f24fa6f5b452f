"""The batch-keyed store: the one storage policy behind every
exactly-once fold in ``streaming/`` and ``operators/rollup.py``.

- **Write** (:func:`write_batch`): each micro-batch's rows land in
  ``__batch=<id>`` partitions under a per-write dynamic
  ``partitionOverwriteMode``. Structured Streaming replays a crashed
  batch with the SAME id, so the replay overwrites its own partitions
  with identical content: exactly-once effect with no transactional
  sink. The mode is a per-write option because it takes precedence
  over the session conf, so writers running concurrently on one
  session never race on a session-level set/restore.
- **Replay-safe read** (:func:`read_prior`): a fold that probes the
  store reads every batch except its own, so a replay sees the same
  prior state and emits the same rows, not doubled ones.
- **Compaction** (:func:`compact_batches`): offline maintenance folds
  every layer into ``__batch=-1`` so partition counts stay bounded as
  the stream ages. The folded copy replaces the store through
  :func:`~data_ingestors_spark.io.fs.swap_in`, crash-safe on any Hadoop
  filesystem with an atomic rename.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestors_spark.io.fs import path_exists, swap_in

BATCH_PART_COL = "__batch"


def write_batch(
    frame: DataFrame,
    path: str,
    batch_id: int,
    partition_by: tuple[str, ...] = (BATCH_PART_COL,),
) -> None:
    """Write ``frame`` as batch ``batch_id``'s layer of the store at
    ``path``, replacing only the partitions this write produces.
    ``errorifexists`` on first creation makes a concurrent creator
    fail loud instead of being overwritten."""
    frame.withColumn(BATCH_PART_COL, F.lit(int(batch_id)).cast("long")).write.mode(
        "overwrite" if path_exists(frame.sparkSession, path) else "errorifexists"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by).parquet(path)


def read_prior(spark: SparkSession, path: str, batch_id: int) -> DataFrame:
    """Every batch layer at ``path`` except ``batch_id``'s own (a
    replayed batch's earlier partitions may be present)."""
    return spark.read.parquet(path).filter(F.col(BATCH_PART_COL) != int(batch_id))


def write_all(*writes: Callable[[], None]) -> None:
    """Run independent writes (zero-argument callables on distinct
    paths) concurrently; return once ALL have landed, re-raising the
    first failure, so a caller's ledger-last discipline is unchanged."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        for f in [pool.submit(w) for w in writes]:
            f.result()


def start_folds(
    stream: DataFrame,
    checkpoint: str,
    fold_batch: Callable[[SparkSession, DataFrame, int], None],
    available_now: bool,
):
    """Start ``stream`` with ``fold_batch(spark, batch, batch_id)`` as
    its ``foreachBatch`` sink; empty micro-batches are skipped.
    ``available_now`` processes what has arrived since the last
    checkpoint, then stops. Returns the started query."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            fold_batch(batch_df.sparkSession, batch_df, batch_id)

    writer = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_batches(
    spark: SparkSession,
    path: str,
    merge: Callable[[DataFrame], DataFrame] | None = None,
    partition_by: tuple[str, ...] = (BATCH_PART_COL,),
) -> None:
    """Fold every batch layer of the store at ``path`` into a single
    ``__batch=-1`` layer, written with ``partition_by`` as
    :func:`write_batch` wrote it. ``merge`` combines the rows of all
    layers (``BATCH_PART_COL`` dropped), e.g. a groupBy-sum for
    additive counts; the default keeps every row (immutable index
    facts). Offline maintenance: run while no fold writes to ``path``.

    Crash-safe: the folded layer is written to a hidden sibling and
    swapped in by :func:`~data_ingestors_spark.io.fs.swap_in`, which
    first repairs an interrupted earlier swap of ``path``; the live
    store is never the write target, so a crash at any point leaves a
    complete copy on disk."""

    def write_folded(tmp: str) -> None:
        layers = spark.read.parquet(path).drop(BATCH_PART_COL)
        folded = (merge(layers) if merge else layers).withColumn(
            BATCH_PART_COL, F.lit(-1).cast("long")
        )
        # STATIC overwrite is load-bearing: under dynamic mode only the
        # __batch=-1 partitions would be replaced and stale per-batch
        # layers would survive, doubling every row. Per-write option so
        # an ambient dynamic mode cannot leak in.
        folded.write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy(
            *partition_by
        ).parquet(tmp)

    swap_in(spark, path, write_folded)
