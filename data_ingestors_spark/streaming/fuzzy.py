"""Streaming entity resolution: match a record stream against a static
reference dictionary at edit distance <= 1, using the batch FastSS
machinery (operators/fuzzy.py) per micro-batch.

The matches are a batch-keyed store (streaming/batches.py), so a
replayed batch rewrites its own partition instead of duplicating
matches. Read the cumulative matches with
``spark.read.parquet(matches_path).drop("__batch")``. The sink
directory is only created once some batch produces at least one match
(an all-empty prefix of batches writes nothing — an empty partitioned
parquet dir would break readers' schema inference), so readers should
treat a missing path as "no matches yet".
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from data_ingestors_spark.streaming.batches import start_folds, write_batch


def fuzzy_match_fold_batch(
    spark,
    batch: DataFrame,
    batch_id: int,
    reference: DataFrame,
    matches_path: str,
    *,
    col: str,
    id_col: str,
    ref_col: str,
    ref_id_col: str,
) -> None:
    """Match one micro-batch against the reference; idempotent by
    batch id (dynamic overwrite of the batch's own partition)."""
    from data_ingestors_spark.io.fs import path_exists
    from data_ingestors_spark.operators.fuzzy import fastss_match

    matched = fastss_match(batch, reference, col, id_col, ref_col, ref_id_col)

    # First creation with zero matches would leave an empty partitioned
    # directory that spark.read.parquet() cannot infer a schema from —
    # skip the write until some batch produces rows (idempotent: a
    # replay of this batch also produces zero rows). Once the sink
    # exists, empty batches write nothing under dynamic overwrite
    # anyway, so only the creation path needs the guard.
    if not path_exists(spark, matches_path) and matched.isEmpty():
        return
    write_batch(matched, matches_path, batch_id)


def stream_fuzzy_match(
    docs: DataFrame,
    reference: DataFrame,
    matches_path: str,
    checkpoint: str,
    *,
    col: str,
    id_col: str,
    ref_col: str,
    ref_id_col: str,
    available_now: bool = False,
):
    """Streaming fuzzy match of ``docs`` (a streaming DataFrame)
    against the static ``reference``. Returns the started query."""
    return start_folds(
        docs,
        checkpoint,
        partial(
            fuzzy_match_fold_batch,
            reference=reference,
            matches_path=matches_path,
            col=col,
            id_col=id_col,
            ref_col=ref_col,
            ref_id_col=ref_id_col,
        ),
        available_now,
    )
