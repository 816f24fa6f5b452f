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
  the stream ages. It swaps the folded copy in crash-safely;
  :func:`recover_compaction` repairs an interrupted swap.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestors_spark.io.writers import path_exists

BATCH_PART_COL = "__batch"

# sibling-directory suffixes for the crash-safe compaction swap
_COMPACT_TMP = "__compacting"
_COMPACT_OLD = "__precompact"


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


def recover_compaction(root: str, subdirs: tuple[str, ...]) -> None:
    """Repair a compaction of ``root/<sub>`` interrupted mid-swap (see
    :func:`compact_batches`).

    State machine per subdir (write-tmp → rename live→old →
    rename tmp→live → rm old):

    - live missing, old present: crashed between the two renames —
      restore the original (``old`` → live); the interrupted
      compaction simply never happened. The tmp copy (complete at
      that point by ordering) is discarded.
    - live present, old present: crashed before the old layer was
      removed — finish by deleting ``old``.
    - tmp present, live present: crashed before the swap started —
      discard the partial/complete tmp copy.

    Every terminal state leaves ``live`` holding either the exact
    pre-compaction or the exact post-compaction row set (the two are
    semantically identical: compaction only folds layers)."""
    for sub in subdirs:
        live = os.path.join(root, sub)
        tmp = live + _COMPACT_TMP
        old = live + _COMPACT_OLD
        if not os.path.isdir(live) and os.path.isdir(old):
            os.rename(old, live)
        if os.path.isdir(old) and os.path.isdir(live):
            shutil.rmtree(old)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)


def compact_batches(
    spark: SparkSession,
    path: str,
    merge: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Fold every batch layer of the store at ``path`` into a single
    ``__batch=-1`` layer. ``merge`` combines the rows of all layers
    (``BATCH_PART_COL`` dropped), e.g. a groupBy-sum for additive
    counts; the default keeps every row (immutable index facts).
    Offline maintenance: run while no fold writes to ``path``.

    Crash-safe: the folded layer is written to a SIBLING directory
    first, then swapped in with two directory renames (local-FS atomic
    each); the live store is never the write target, so a crash at any
    point leaves a complete copy on disk and :func:`recover_compaction`
    (run here first, and at every refresh-loop entry) repairs the
    half-swapped states. The renames are local ``os`` calls, so
    ``path`` must be a driver-visible POSIX path."""
    live = path.rstrip("/")
    root, sub = os.path.split(live)
    recover_compaction(root, (sub,))
    tmp = live + _COMPACT_TMP
    old = live + _COMPACT_OLD
    layers = spark.read.parquet(live).drop(BATCH_PART_COL)
    folded = (merge(layers) if merge else layers).withColumn(
        BATCH_PART_COL, F.lit(-1).cast("long")
    )
    # the write target is a sibling, not the read path, so no
    # localCheckpoint materialization is needed. STATIC overwrite is
    # load-bearing: under dynamic mode only the __batch=-1 partitions
    # would be replaced and the stale per-batch layers would survive,
    # doubling every row (the compact_rollup bug class). Per-write
    # option so an ambient dynamic mode cannot leak in.
    folded.write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy(
        BATCH_PART_COL
    ).parquet(tmp)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)
