"""Structured Streaming over the events table.

The reference engine has no streaming (SURVEY.md §2.5 scopes this to
the declared operator inventory); these are the canonical streaming
operators a training-data pipeline needs: watermarked tumbling/sliding
windows, session windows, and keyed dedup-within-watermark. The same
aggregation expressions run in batch in queries/events.py — one
implementation, two execution modes, which is exactly Spark's
batch/streaming unification.

Tests drive these with a file source over the testdata parquet and a
memory sink (processAllAvailable) — the transformations are
source/sink-agnostic, so swapping in Kafka is a read/write change only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestors_spark.streaming.batches import start_folds

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream of event rows (schema pinned, no inference)."""
    return spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir)


def windowed_counts_stream(events: DataFrame, *, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation; late rows beyond the
    watermark are dropped, state is bounded — the scale-safe default."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value")
    )


def session_stream(events: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows (inactivity gap) per user under a watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


def dedup_stream(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Keyed dedup within the watermark — bounded-state streaming
    exact dedup (dropDuplicatesWithinWatermark)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def attribution_stream(
    views: DataFrame,
    purchases: DataFrame,
    *,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with event-time range condition: each
    view joined to same-user purchases within ``horizon`` after it.
    Watermarks on BOTH sides plus the time-range predicate let Spark
    bound the join state (views older than watermark+horizon are
    evicted) — the canonical watermarked interval join. Semantics match
    queries/events.py q_attribution_join run in batch."""
    v = views.withWatermark("ts", watermark).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return (
        v.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
            "inner",
        )
        .select(
            "view_id",
            "purchase_id",
            F.col("v_user").alias("user_id"),
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("delay_us"),
        )
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
# open-session state carried between micro-batches, one per user:
# (start_us, last_us, n_events, sum_value) — epoch microseconds so the
# tuple is plain scalars (Arrow-safe), no timestamp objects in state.
SESSION_STATE_SCHEMA = "start_us long, last_us long, n long, s double"


def stateful_sessions(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str = "0 seconds"
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with
    an inactivity gap, written directly against the GroupState API via
    ``applyInPandasWithState`` (the escape hatch for semantics
    ``session_window`` can't express — here each closed session also
    reports its END timestamp, and the state layout is explicit).

    Semantics match q_session_window's gaps-and-islands oracle: a new
    session starts when ``ts - prev_ts >= gap``. Sessions closed by a
    later event emit immediately; each user's trailing open session
    emits when the event-time watermark passes ``last_ts + gap``
    (EventTimeTimeout — Spark runs a no-data micro-batch after the
    watermark advances, so timeouts fire without new input).

    Scale notes: state is one scalar tuple per ACTIVE user (bounded by
    the timeout), grouped shuffle is by user_id only, and the handler
    is Arrow-batched. Late rows beyond the watermark never reach the
    handler (dropped by Spark, standard watermark semantics).
    """
    import pandas as pd  # noqa: F401 (handler returns pandas frames)

    gap_us = _duration_us(gap)

    def handle(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, s = state.get
            state.remove()
            yield _session_row(pd, user_id, start_us, last_us, n, s)
            return

        # merge the open session (if any) with this batch's events
        ts_us, vals = [], []
        for pdf in pdfs:
            ts_us.append(pdf["ts"].astype("int64"))  # ns → see below
            vals.append(pdf["value"])
        # ignore_index: per-chunk frames reuse labels 0..n, and label-based
        # selection with duplicate labels returns every matching row (row
        # inflation whenever a group spans >1 Arrow batch). Positional
        # argsort ordering avoids label lookup entirely.
        ts = pd.concat(ts_us, ignore_index=True) // 1000  # ns → µs
        vv = pd.concat(vals, ignore_index=True)
        if ts.empty and not state.exists:
            return
        order = ts.argsort(kind="stable")
        ts, vv = ts.iloc[order], vv.iloc[order]

        if state.exists:
            start_us, last_us, n, s = state.get
        else:
            start_us = last_us = None
            n, s = 0, 0.0

        out = []
        for t, v in zip(ts.tolist(), vv.tolist()):
            if last_us is not None and t - last_us >= gap_us:
                out.append((user_id, start_us, last_us, n, s))
                start_us, n, s = t, 0, 0.0
            if start_us is None:
                start_us = t
            last_us = t
            n += 1
            s += float(v)
        state.update((start_us, last_us, n, s))
        state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)  # ms
        if out:
            yield pd.concat([_session_row(pd, *row) for row in out])

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            handle,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _session_row(pd, user_id, start_us, last_us, n, s):
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "session_start": [pd.Timestamp(start_us, unit="us")],
            "session_end": [pd.Timestamp(last_us, unit="us")],
            "n_events": [n],
            "sum_value": [s],
        }
    )


def _duration_us(text: str) -> int:
    """'30 minutes' → microseconds (CalendarInterval-style literals)."""
    qty, unit = text.split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
        "day": 86400, "days": 86400,
    }[unit]
    return int(qty) * mult * 1_000_000


def enrich_stream(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: each micro-batch joins against the batch
    dimension frame (re-read per trigger, so a refreshed dim parquet
    is picked up without restarting the query). Static side is
    broadcast when small — no streaming state involved, unlike a
    stream-stream join."""
    from pyspark.sql.functions import broadcast

    return events.join(broadcast(dim), on, "left")


def stream_upsert(
    df: DataFrame,
    target_path: str,
    checkpoint: str,
    *,
    key: str = "event_id",
    available_now: bool = False,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming MERGE sink: every micro-batch upserts into the keyed
    bucketed table. Exactly-once EFFECT comes from the composition —
    the checkpoint gives at-least-once batch delivery, and the keyed
    upsert is idempotent, so a replayed batch after a crash rewrites
    the same rows instead of duplicating them.
    This is the production pattern for streaming into a warehouse
    table without a transactional sink.

    ``available_now=True`` turns this into INCREMENTAL BATCH ingest:
    process everything that arrived since the last checkpoint, then
    stop — the scheduled-job alternative to an always-on stream, with
    the same checkpoint bookkeeping deciding what is "new"."""
    from data_ingestors_spark.io.writers import upsert

    def merge_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        upsert(spark, target_path, batch_df, key=key)

    return start_folds(df, checkpoint, merge_batch, available_now)


def stream_rollup(
    df: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    val_col: str = "value",
    bucket: str = "hour",
    available_now: bool = False,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming continuous aggregate: each micro-batch appends its
    rollup PARTIALS into partitions keyed by (bucket, batch_id)
    (operators/rollup.py rollup_append_partials), a batch-keyed store
    (streaming/batches.py), so additive merges never double-count a
    replayed batch. Readers merge partials at read time;
    compact_rollup folds them offline."""
    from data_ingestors_spark.operators.rollup import rollup_append_partials

    def fold(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        rollup_append_partials(
            spark,
            batch_df,
            store_path,
            batch_id,
            ts_col=ts_col,
            key_cols=key_cols,
            val_col=val_col,
            bucket=bucket,
        )

    return start_folds(df, checkpoint, fold, available_now)


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drive a streaming frame to completion against the memory sink;
    returns the materialized result as a batch DataFrame."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")
