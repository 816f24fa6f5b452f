"""Incremental time-bucket rollup — the hypertable "continuous
aggregate" pattern (TimescaleDB continuous aggregates, Druid rollup
segments) expressed Spark-first.

An events stream lands in batches (possibly with late data). The
rollup store keeps one row per (time bucket, key) with ADDITIVE
partial aggregates (count / decimal sum / min / max). Refreshing with
a new batch:

1. aggregate the batch to bucket partials (map-side combine does most
   of the work);
2. find the touched buckets (a driver-side collect of the DISTINCT
   bucket list — bounded by the batch's time span, not its row count);
3. read ONLY those partitions back from the store (partition pruning
   on the bucket directory key), merge additively, and dynamically
   overwrite ONLY those partitions.

At 100 TB a batch touches hours, not history: the refresh cost scales
with the batch's bucket span, never the store size — the property that
makes continuous aggregates viable. Untouched partitions are never
read or rewritten (asserted in tests via file mtimes).

Averages and other derived measures are finalized at READ time from
the additive partials (``read_rollup``), so merges stay associative —
the same discipline as the HLL sketch rollups (operators/sketches.py).

Reference parity: the reference has no rollup surface (it is an
ingestion framework); this extends the engine per the build brief's
custom-operator list (as-of join, range join, hypertable rollup,
sketches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestors_spark.io.fs import ls, path_exists, recover, resolve
from data_ingestors_spark.streaming.batches import (
    BATCH_PART_COL,
    compact_batches,
    write_batch,
)

BUCKET_PART_COL = "__bucket"

_DEC = "decimal(30,10)"

_FORMATS = {
    "hour": "yyyy-MM-dd-HH",
    "day": "yyyy-MM-dd",
}


def _partials(
    batch: DataFrame, ts_col: str, key_cols: tuple[str, ...], val_col: str, bucket: str
) -> DataFrame:
    if bucket not in _FORMATS:
        raise ValueError(f"rollup bucket must be one of {sorted(_FORMATS)}, got {bucket!r}")
    b = F.date_format(F.date_trunc(bucket, F.col(ts_col)), _FORMATS[bucket])
    return (
        batch.select(
            b.alias(BUCKET_PART_COL), *key_cols, F.col(val_col).alias("__v")
        )
        .groupBy(BUCKET_PART_COL, *key_cols)
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("__v").cast(_DEC)).cast(_DEC).alias("sum_value"),
            F.min("__v").alias("min_value"),
            F.max("__v").alias("max_value"),
        )
    )


def _merge(parts: DataFrame, key_cols: tuple[str, ...]) -> DataFrame:
    return parts.groupBy(BUCKET_PART_COL, *key_cols).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum(F.col("sum_value")).cast(_DEC).alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


def rollup_upsert(
    spark: SparkSession,
    batch: DataFrame,
    store_path: str,
    *,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    val_col: str = "value",
    bucket: str = "hour",
) -> int:
    """Fold one batch into the rollup store. Returns the number of
    touched buckets. Idempotence is the caller's concern
    (at-least-once upstreams should dedup first — see writers.upsert,
    or use rollup_append_partials which is idempotent by batch id);
    the merge itself is associative and commutative, so refresh ORDER
    never changes the result.
    """
    parts = _partials(batch, ts_col, key_cols, val_col, bucket)

    if not path_exists(spark, store_path):
        parts.repartition(BUCKET_PART_COL).write.partitionBy(BUCKET_PART_COL).parquet(
            store_path
        )
        return parts.select(BUCKET_PART_COL).distinct().count()

    store = spark.read.parquet(store_path)
    if BATCH_PART_COL in store.columns:
        # a partials-layout store ((bucket, batch_id) partitions, from
        # rollup_append_partials / stream_rollup): merging flat bucket
        # rows into it would leave mixed-depth partition directories
        # that fail on the NEXT read (CONFLICTING_PARTITION_COLUMN_NAMES)
        # — silent corruption; refuse loudly instead
        raise ValueError(
            f"rollup_upsert: {store_path} uses the per-batch partials layout; "
            "refresh it with rollup_append_partials (or stream_rollup), or "
            "compact_rollup it and keep using the partials API"
        )
    touched = [r[0] for r in parts.select(BUCKET_PART_COL).distinct().collect()]
    existing = (
        store
        .filter(F.col(BUCKET_PART_COL).isin(touched))  # partition-pruned read
        .select(parts.columns)
    )
    merged = _merge(parts.unionByName(existing), key_cols)
    # merged contains ONLY touched buckets, so dynamic overwrite
    # replaces exactly those partition directories. Per-write option:
    # thread-safe, no session-conf set/restore (r13).
    merged.repartition(BUCKET_PART_COL).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(BUCKET_PART_COL).parquet(store_path)
    return len(touched)


def read_rollup(spark: SparkSession, store_path: str, *, bucket_alias: str = "bucket") -> DataFrame:
    """Finalized view of the store: derived measures (avg) computed
    from the additive partials at read time. Handles both layouts —
    merged bucket rows (rollup_upsert) and per-batch partials
    (rollup_append_partials), merging the latter first."""
    df = spark.read.parquet(store_path)
    if BATCH_PART_COL in df.columns:
        key_cols = tuple(
            c
            for c in df.columns
            if c
            not in (BUCKET_PART_COL, BATCH_PART_COL, "n_events", "sum_value", "min_value", "max_value")
        )
        df = _merge(df.drop(BATCH_PART_COL), key_cols)
    return df.select(
        F.col(BUCKET_PART_COL).cast("string").alias(bucket_alias),
        *[c for c in df.columns if c not in (BUCKET_PART_COL,)],
    ).withColumn(
        "avg_value",
        (F.col("sum_value").cast("double") / F.col("n_events")),
    )


def rollup_append_partials(
    spark: SparkSession,
    batch: DataFrame,
    store_path: str,
    batch_id: int,
    *,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    val_col: str = "value",
    bucket: str = "hour",
) -> None:
    """Exactly-once-effect rollup refresh for at-least-once upstreams
    (Structured Streaming replays the in-flight batch after a crash):
    instead of merging into the bucket rows — where a replay would
    double-count the additive partials — each batch's partials land in
    partitions keyed by (bucket, batch_id) of a batch-keyed store
    (streaming/batches.py), so the refresh is idempotent by
    construction, no transaction or marker protocol needed. Readers
    merge partials at read time (``read_rollup`` detects the layout);
    ``compact_rollup`` folds accumulated partials offline so read cost
    stays bounded.
    """
    write_batch(
        _partials(batch, ts_col, key_cols, val_col, bucket).repartition(BUCKET_PART_COL),
        store_path,
        batch_id,
        partition_by=(BUCKET_PART_COL, BATCH_PART_COL),
    )


def compact_rollup(
    spark: SparkSession, store_path: str, *, key_cols: tuple[str, ...] = ("event_type",)
) -> None:
    """Fold all per-batch partials into a single __batch=-1 layer,
    crash-safely (:func:`~data_ingestors_spark.streaming.batches.compact_batches`).
    A merged-bucket store (rollup_upsert) has no layers and is left
    as it is. Offline maintenance: run while no refresh is active (the
    same single-writer discipline as writers.upsert's table lock)."""
    fs = resolve(spark, store_path)
    recover(fs, store_path)  # the layout check lists the store
    if not path_exists(fs, store_path):
        return
    # both layouts hold __bucket= directories; only the partials layout
    # has __batch= directories inside them (hidden swap entries skipped)
    buckets = [
        n for n, is_dir, _ in ls(fs, store_path) if is_dir and n.startswith(f"{BUCKET_PART_COL}=")
    ]
    if not buckets or not any(
        is_dir and n.startswith(f"{BATCH_PART_COL}=")
        for n, is_dir, _ in ls(fs, f"{store_path}/{buckets[0]}")
    ):
        return
    compact_batches(
        spark,
        store_path,
        merge=lambda parts: _merge(parts, key_cols).repartition(BUCKET_PART_COL),
        partition_by=(BUCKET_PART_COL, BATCH_PART_COL),
    )
