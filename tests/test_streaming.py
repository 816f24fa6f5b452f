"""Structured Streaming operational guarantees: exactly-once delivery
to a file sink across a restart (checkpoint recovery), and late-data
drop beyond the watermark. The transformation logic itself is covered
by tests/test_operators.py; these tests cover the *runtime* contract a
production pipeline leans on."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_ingestors_spark.streaming import stream_events, windowed_counts_stream


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.mode("append").parquet(path)


def _ev(i, hour, etype="view", minute=0):
    return (
        i,
        dt.datetime(2024, 1, 1, hour, minute),
        100 + i % 3,
        etype,
        float(i),
        "{}",
    )


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    _write_events(spark, src, [_ev(i, hour=i % 4) for i in range(20)])

    def start():
        return (
            stream_events(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(120)

    # restart from the same checkpoint with more input: previously
    # committed files must not be re-emitted, new ones must land once
    _write_events(spark, src, [_ev(100 + i, hour=5) for i in range(5)])
    q2 = start()
    q2.awaitTermination(120)

    out = spark.read.parquet(sink)
    assert out.count() == 25
    assert out.select("event_id").distinct().count() == 25


def test_restart_without_new_data_emits_nothing(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_events(spark, src, [_ev(i, hour=1) for i in range(10)])

    for _ in range(2):  # second run replays the checkpoint, adds nothing
        q = (
            stream_events(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    assert spark.read.parquet(sink).count() == 10


def test_late_data_dropped_beyond_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch 1: one event in each of hours 0,1,2 plus an hour-12 event
    # that advances the watermark to 10:00 — finalizing those windows
    _write_events(
        spark, src, [_ev(0, 0), _ev(1, 1), _ev(2, 2), _ev(3, 12)]
    )
    agg = windowed_counts_stream(
        stream_events(spark, src), window="1 hour", watermark="2 hours"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: an event re-targeting the finalized hour-0 window
        # (late by 12h against a 2h watermark) + a fresh hour-15 event
        _write_events(spark, src, [_ev(10, 0), _ev(11, 15)])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        (r.w_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM late_drop").collect()
    }
    h0 = (dt.datetime(2024, 1, 1, 0, 0), "view")
    # the late event must NOT have re-opened or double-emitted hour 0
    assert rows[h0] == 1
    # the hour-12 window finalized once the watermark passed it
    assert rows[(dt.datetime(2024, 1, 1, 12, 0), "view")] == 1
    # no duplicate emission of any finalized window
    all_rows = spark.sql("SELECT w_start, event_type, count(*) c FROM late_drop GROUP BY 1,2 HAVING count(*) > 1").collect()
    assert all_rows == []


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    """The watermarked interval join (view -> purchase within 1h per
    user) emits exactly the pairs the batch join produces over the
    same files."""
    from data_ingestors_spark.streaming import attribution_stream

    src = str(tmp_path / "src")
    rows = []
    # user 100: view at 1:00, purchases at 1:30 (join) and 3:00 (outside 1h)
    rows.append(_ev(0, hour=1, etype="view"))
    rows.append(_ev(1, hour=1, etype="purchase", minute=30))
    rows.append(_ev(2, hour=3, etype="purchase"))
    # user 101: purchase before its view — never attributed
    rows.append(_ev(3, hour=2, etype="purchase", minute=0))
    rows.append(_ev(4, hour=2, etype="view", minute=30))
    # fix the users explicitly (the _ev helper derives user from id)
    rows = [(r[0], r[1], 100 if r[0] < 3 else 101, r[3], r[4], r[5]) for r in rows]
    # watermark mover far in the future on both sides
    rows.append((90, dt.datetime(2024, 1, 2, 12), 999, "view", 0.0, "{}"))
    rows.append((91, dt.datetime(2024, 1, 2, 12), 999, "purchase", 0.0, "{}"))
    _write_events(spark, src, rows)

    ev = stream_events(spark, src)
    joined = attribution_stream(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
        watermark="2 hours",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.view_id, r.purchase_id, r.user_id, r.delay_us)
        for r in spark.sql("SELECT * FROM attrib").collect()
    }
    # batch reference over the same files
    batch = spark.read.parquet(src)
    v = batch.filter(F.col("event_type") == "view").selectExpr(
        "event_id AS view_id", "user_id AS v_user", "ts AS v_ts"
    )
    p = batch.filter(F.col("event_type") == "purchase").selectExpr(
        "event_id AS purchase_id", "user_id AS p_user", "ts AS p_ts"
    )
    expected = {
        (r.view_id, r.purchase_id, r.user_id, r.delay_us)
        for r in v.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .selectExpr(
            "view_id",
            "purchase_id",
            "v_user AS user_id",
            "unix_micros(p_ts) - unix_micros(v_ts) AS delay_us",
        )
        .collect()
    }
    assert got == expected
    # the only attributed pair is user 100's view->purchase at +30min
    assert (0, 1, 100, 30 * 60 * 1_000_000) in got
    assert all(pair[2] != 101 for pair in got)


def test_stream_upsert_idempotent_across_restart(spark, tmp_path):
    """foreachBatch + keyed upsert = exactly-once EFFECT: restarting
    from the checkpoint and replaying data must not duplicate rows,
    and a re-keyed row must update in place."""
    from data_ingestors_spark.streaming import stream_events, stream_upsert

    src = str(tmp_path / "src")
    target = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_events(spark, src, [_ev(i, hour=1) for i in range(10)])
    q = stream_upsert(stream_events(spark, src), target, ckpt, key="event_id")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = spark.read.parquet(target)
    assert first.select("event_id").distinct().count() == 10
    assert first.count() == 10

    # restart from the same checkpoint; add one NEW event and one
    # UPDATE of an existing key (same event_id, different value)
    rows = [_ev(10, hour=2)]
    rows.append((5, dt.datetime(2024, 1, 1, 5), 105, "updated", 999.0, "{}"))
    _write_events(spark, src, rows)
    q2 = stream_upsert(stream_events(spark, src), target, ckpt, key="event_id")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    final = spark.read.parquet(target)
    assert final.count() == 11  # 10 original + 1 new, no duplicates
    updated = final.filter(F.col("event_id") == 5).collect()
    assert len(updated) == 1 and updated[0].event_type == "updated"


def test_stream_upsert_available_now_incremental(spark, tmp_path):
    """Trigger.availableNow = scheduled incremental batch: each run
    processes exactly the files that arrived since the last
    checkpoint, then terminates on its own."""
    from data_ingestors_spark.streaming import stream_events, stream_upsert

    src = str(tmp_path / "src")
    target = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_events(spark, src, [_ev(i, hour=1) for i in range(5)])
    q = stream_upsert(stream_events(spark, src), target, ckpt, available_now=True)
    q.awaitTermination(120)  # terminates by itself — no stop() needed
    assert spark.read.parquet(target).count() == 5

    _write_events(spark, src, [_ev(i, hour=2) for i in range(5, 8)])
    q2 = stream_upsert(stream_events(spark, src), target, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == 8


def test_enrich_stream_static_join(spark, tmp_path):
    from data_ingestors_spark.streaming import enrich_stream, stream_events

    src = str(tmp_path / "src")
    _write_events(spark, src, [_ev(i, hour=1) for i in range(6)])
    dim = spark.createDataFrame(
        [(100, "gold"), (101, "silver")], "user_id long, tier string"
    )
    out = enrich_stream(stream_events(spark, src), dim, "user_id")
    q = (
        out.writeStream.format("memory").queryName("enriched")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM enriched").collect()
    tiers = {r.user_id: r.tier for r in rows}
    # users derive from id % 3 -> 100,101,102; 102 has no dim row (left join)
    assert tiers[100] == "gold" and tiers[101] == "silver" and tiers[102] is None


def test_stream_rollup_exactly_once_effect(spark, tmp_path):
    """Streaming continuous aggregate: per-batch partials partitioned
    by (bucket, batch_id) make the foreachBatch refresh idempotent —
    restarting from the checkpoint with new data must not double-count
    earlier batches, and compaction must not change the answer."""
    from data_ingestors_spark.operators.rollup import compact_rollup, read_rollup
    from data_ingestors_spark.streaming import stream_events, stream_rollup

    src = str(tmp_path / "src")
    store = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    _write_events(spark, src, [_ev(i, hour=i % 3) for i in range(12)])
    q = stream_rollup(stream_events(spark, src), store, ckpt, available_now=True)
    q.awaitTermination(120)

    # restart with late data for an existing hour + a new hour
    _write_events(spark, src, [_ev(100, hour=1, minute=30), _ev(101, hour=7)])
    q2 = stream_rollup(stream_events(spark, src), store, ckpt, available_now=True)
    q2.awaitTermination(120)

    def snapshot():
        return {
            (r.bucket, r.event_type): (r.n_events, float(r.sum_value))
            for r in read_rollup(spark, store).collect()
        }

    got = snapshot()
    # exactly the 14 events, each counted once
    assert sum(n for n, _ in got.values()) == 14
    assert ("2024-01-01-07", "view") in got

    compact_rollup(spark, store)
    assert snapshot() == got


def test_stream_neardup_matches_batch_operator(spark, tmp_path):
    """Streaming MinHash-LSH: after folding batches in (near-dup pairs
    split ACROSS batches), the cumulative pair set must equal the
    batch operator run over the union corpus, and a restart-replay
    must not duplicate pairs."""
    from data_ingestors_spark.operators.dedup import minhash_near_duplicates
    from data_ingestors_spark.streaming import stream_neardup

    base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    docs = [
        (0, base),
        (1, base + " extra"),                       # near-dup of 0, batch 1
        (2, "completely different words about spark shuffles and parquet row groups here"),
        (3, base.replace("quick", "swift")),        # near-dup of 0/1, batch 2
        (4, "completely different words about spark shuffles and parquet row group sizes"),  # near-dup of 2
        (5, "unrelated text mentioning neither foxes nor shuffles just filler tokens everywhere"),
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame(docs[:3], schema).coalesce(1).write.mode("append").parquet(src)

    stream = lambda: stream_neardup(
        spark.readStream.schema(schema).parquet(src),
        str(tmp_path / "index"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
        threshold=0.5,
        available_now=True,
    )
    q = stream()
    q.awaitTermination(120)
    spark.createDataFrame(docs[3:], schema).coalesce(1).write.mode("append").parquet(src)
    q2 = stream()
    q2.awaitTermination(120)

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    expect = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_near_duplicates(
            spark.createDataFrame(docs, schema), "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert got == expect and expect, (got, expect)
    # pairs must span batches (doc 3 arrived after doc 0/1)
    assert any(a in (0, 1) and b == 3 for a, b, _ in got)
    # no duplicate (id_a, id_b) rows across batch partitions
    ids = [(r.id_a, r.id_b) for r in spark.read.parquet(str(tmp_path / "pairs")).collect()]
    assert len(ids) == len(set(ids))


def test_compact_neardup_index_preserves_future_detection(spark, tmp_path):
    """Compacting the band/shingle index must not change what later
    batches detect: a near-dup arriving AFTER compaction still pairs
    with a pre-compaction document."""
    from data_ingestors_spark.streaming import (
        compact_neardup_index,
        neardup_fold_batch,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    schema = "doc_id long, text string"
    index, pairs = str(tmp_path / "idx"), str(tmp_path / "pairs")
    neardup_fold_batch(
        spark, spark.createDataFrame([(0, base)], schema), 0, index, pairs, threshold=0.5
    )
    compact_neardup_index(spark, index)
    neardup_fold_batch(
        spark,
        spark.createDataFrame([(1, base + " extra")], schema),
        1,
        index,
        pairs,
        threshold=0.5,
    )
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(pairs).collect()}
    assert got == {(0, 1)}


def test_stream_fuzzy_match_matches_batch_operator(spark, tmp_path):
    """Streaming FastSS: records arriving across two micro-batch waves
    match the static reference exactly as the batch operator does, and
    the batch-partitioned sink holds no duplicate matches."""
    from data_ingestors_spark.operators.fuzzy import fastss_match
    from data_ingestors_spark.streaming import stream_fuzzy_match

    reference = spark.createDataFrame(
        [(100, "alpha"), (101, "bravo"), (102, "charlie")],
        "ref_id long, name string",
    )
    records = [
        (1, "alpha"),    # exact hit (dist 0)
        (2, "alpya"),    # substitution -> alpha
        (3, "bravoo"),   # insertion -> bravo
        (4, "charli"),   # deletion -> charlie
        (5, "delta"),    # no match
    ]
    schema = "rec_id long, name string"
    src = str(tmp_path / "src")
    spark.createDataFrame(records[:2], schema).coalesce(1).write.mode("append").parquet(src)

    run = lambda: stream_fuzzy_match(
        spark.readStream.schema(schema).parquet(src),
        reference,
        str(tmp_path / "matches"),
        str(tmp_path / "ckpt"),
        col="name",
        id_col="rec_id",
        ref_col="name",
        ref_id_col="ref_id",
        available_now=True,
    )
    q = run()
    q.awaitTermination(120)
    spark.createDataFrame(records[2:], schema).coalesce(1).write.mode("append").parquet(src)
    q2 = run()
    q2.awaitTermination(120)

    got = {
        (r.id, r.ref_id, r.dist)
        for r in spark.read.parquet(str(tmp_path / "matches")).collect()
    }
    expect = {
        (r.id, r.ref_id, r.dist)
        for r in fastss_match(
            spark.createDataFrame(records, schema),
            reference, "name", "rec_id", "name", "ref_id",
        ).collect()
    }
    assert got == expect and expect, (got, expect)
    assert (1, 100, 0) in got and (2, 100, 1) in got
    assert (3, 101, 1) in got and (4, 102, 1) in got
    assert not any(rid == 5 for rid, _, _ in got)
    rows = [(r.id, r.ref_id) for r in spark.read.parquet(str(tmp_path / "matches")).collect()]
    assert len(rows) == len(set(rows))


def test_stream_heavy_hitters_matches_batch_and_replay(spark, tmp_path):
    """Streaming heavy hitters: counts folded across two waves must
    equal the exact batch answer over the union, a checkpoint restart
    must not double-count, and compaction must not change the set."""
    from pyspark.sql import functions as F

    from data_ingestors_spark.streaming import (
        compact_counts,
        read_heavy_hitters,
        stream_heavy_hitters,
    )

    schema = "w string"
    src = str(tmp_path / "src")
    store = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt")
    wave1 = [("hot",)] * 30 + [(f"cold{i}",) for i in range(60)]
    wave2 = [("hot",)] * 10 + [("warm",)] * 15 + [(f"cold{i}",) for i in range(60, 85)]
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode("append").parquet(src)

    run = lambda: stream_heavy_hitters(
        spark.readStream.schema(schema).parquet(src),
        store,
        ckpt,
        col="w",
        available_now=True,
    )
    q = run()
    q.awaitTermination(120)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(src)
    q2 = run()
    q2.awaitTermination(120)

    got = {(r.w, r.cnt) for r in read_heavy_hitters(spark, store, 1, 10).collect()}
    # batch ground truth over the union at the same support
    union = spark.createDataFrame(wave1 + wave2, schema)
    n = union.count()
    truth = {
        (r.w, r.cnt)
        for r in union.groupBy("w")
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") * 10 >= n)
        .collect()
    }
    assert got == truth and ("hot", 40) in got and ("warm", 15) in got

    compact_counts(spark, store)
    assert {(r.w, r.cnt) for r in read_heavy_hitters(spark, store, 1, 10).collect()} == truth


def test_compact_counts_recovers_from_crash_mid_swap(spark, tmp_path, monkeypatch):
    """A crash between compaction's two swap renames (live store moved
    aside, folded copy not yet in place) loses nothing: the next
    compaction restores the store first, then folds it."""
    import pytest

    from data_ingestors_spark.io import fs
    from data_ingestors_spark.streaming import compact_counts, counts_fold_batch, read_heavy_hitters

    store = str(tmp_path / "counts")
    waves = [[("hot",)] * 5 + [("cold",)], [("hot",)] * 3 + [("warm",)] * 4]
    for batch_id, rows in enumerate(waves):
        counts_fold_batch(spark, spark.createDataFrame(rows, "w string"), batch_id, store, "w")
    before = {(r.w, r.cnt) for r in read_heavy_hitters(spark, store, 1, 10).collect()}
    assert before == {("hot", 8), ("warm", 4)}

    real_rename = fs.rename

    def crash_into_store(spark, src, dst):
        if dst == store:
            raise OSError("simulated crash before the folded copy is swapped in")
        real_rename(spark, src, dst)

    monkeypatch.setattr(fs, "rename", crash_into_store)
    with pytest.raises(OSError):
        compact_counts(spark, store)
    monkeypatch.setattr(fs, "rename", real_rename)

    compact_counts(spark, store)
    assert {(r.w, r.cnt) for r in read_heavy_hitters(spark, store, 1, 10).collect()} == before


def test_stream_quantile_digest_matches_batch(spark, tmp_path):
    """Streaming digest: quantiles read after folding two waves must
    match the batch digest over the union within the rank-error
    bound, and a checkpoint restart must not double-weight."""
    from pyspark.sql import functions as F

    from data_ingestors_spark.streaming import (
        read_stream_quantiles,
        stream_quantile_digest,
    )

    schema = "value double"
    src = str(tmp_path / "src")
    store = str(tmp_path / "digest")
    ckpt = str(tmp_path / "ckpt")
    wave1 = [(float(i),) for i in range(0, 1000)]
    wave2 = [(float(i),) for i in range(1000, 2000)]
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode("append").parquet(src)

    run = lambda: stream_quantile_digest(
        spark.readStream.schema(schema).parquet(src),
        store,
        ckpt,
        col="value",
        b=64,
        available_now=True,
    )
    q = run()
    q.awaitTermination(120)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(src)
    q2 = run()
    q2.awaitTermination(120)

    got = {r.q: r.est for r in read_stream_quantiles(spark, store, [0.25, 0.5, 0.9], b=64).collect()}
    # union is 0..1999 uniform: truth 500/1000/1800, centroid width ~31
    for qq, truth in [(0.25, 500.0), (0.5, 1000.0), (0.9, 1800.0)]:
        assert abs(got[qq] - truth) <= 64, (qq, got[qq])
    # total folded weight must be exactly the row count (exactly-once)
    total_w = spark.read.parquet(store).agg(F.sum("c_weight")).collect()[0][0]
    assert total_w == 2000


def test_stream_psi_matches_batch_and_replay(spark, tmp_path):
    """Streaming PSI vs a frozen baseline: the score read after folding
    two waves must equal the identical-arithmetic batch computation
    over the union of both waves, and a checkpoint restart (same
    source, same checkpoint) must not double-count any batch."""
    import math

    from pyspark.sql import functions as F

    from data_ingestors_spark.streaming.drift import (
        psi_baseline,
        read_psi,
        stream_psi_fold,
    )

    schema = "event_type string, value double"
    src = str(tmp_path / "src")
    store = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    ref = spark.createDataFrame(
        [("a", float(i % 10)) for i in range(200)]
        + [("b", float(i % 5)) for i in range(100)],
        schema,
    )
    base = psi_baseline(ref)
    base_rows = base.collect()
    # serving stream: wave 1 roughly on-distribution, wave 2 shifted
    wave1 = [("a", float(i % 10)) for i in range(50)] + [
        ("b", float(i % 5)) for i in range(30)
    ]
    wave2 = [("a", 9.0)] * 40 + [("b", 0.0)] * 20
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode("append").parquet(src)

    run = lambda: stream_psi_fold(
        spark.readStream.schema(schema).parquet(src),
        base,
        store,
        ckpt,
        available_now=True,
    )
    q = run()
    q.awaitTermination(120)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(src)
    q2 = run()
    q2.awaitTermination(120)

    got = {r.event_type: r.psi for r in read_psi(spark, store, base).collect()}

    # ground truth: identical Laplace-smoothed arithmetic in python
    ref_cells = {(r.event_type, r.bin): r.c_ref for r in base_rows}
    t_ref = {}
    vr = {}
    for r in base_rows:
        t_ref[r.event_type] = r.t_ref
        vr[r.event_type] = (r.vmin, r.vmax)
    new_cells: dict = {}
    for et, v in wave1 + wave2:
        vmin, vmax = vr[et]
        b = min(max(int(math.floor((v - vmin) / ((vmax - vmin) / 10))), 0), 9)
        new_cells[(et, b)] = new_cells.get((et, b), 0) + 1
    for et in ("a", "b"):
        t_new = sum(c for (e, _), c in new_cells.items() if e == et)
        psi = 0.0
        for b in range(10):
            p_ref = (ref_cells.get((et, b), 0) + 1) / (t_ref[et] + 10)
            p_new = (new_cells.get((et, b), 0) + 1) / (t_new + 10)
            psi += (p_new - p_ref) * math.log(p_new / p_ref)
        assert abs(got[et] - psi) < 1e-9, (et, got[et], psi)
    # wave-2 shift must register as drift on 'a'
    assert got["a"] > 0.1
    # replay: restarting with the SAME checkpoint and no new data must
    # not change the folded cells
    q3 = run()
    q3.awaitTermination(120)
    got2 = {r.event_type: r.psi for r in read_psi(spark, store, base).collect()}
    assert got2 == got


def test_stream_freshness_matches_batch_and_replay(spark, tmp_path):
    """Streaming freshness fold: after two waves, read_freshness must
    equal the batch audit arithmetic over the union (count/max/min all
    merge), and a checkpoint replay must not change anything."""
    import datetime as dt

    from data_ingestors_spark.streaming.monitors import (
        read_freshness,
        stream_freshness_fold,
    )

    schema = "event_type string, ts timestamp"
    src = str(tmp_path / "src")
    store = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    mk = lambda et, secs: (et, t0 + dt.timedelta(seconds=secs))
    # 'b' goes quiet in wave 2 -> stale at the 1 h SLA
    wave1 = [mk("a", i) for i in range(10)] + [mk("b", i) for i in range(5)]
    wave2 = [mk("a", 7200 + i) for i in range(10)] + [mk("b", 60)]
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode("append").parquet(src)

    run = lambda: stream_freshness_fold(
        spark.readStream.schema(schema).parquet(src), store, ckpt, available_now=True
    )
    q = run()
    q.awaitTermination(120)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(src)
    q2 = run()
    q2.awaitTermination(120)

    got = {r.event_type: r.asDict() for r in read_freshness(spark, store).collect()}

    # batch ground truth: identical arithmetic over the union
    union = spark.createDataFrame(wave1 + wave2, schema)
    per = union.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.min(F.unix_micros("ts")).alias("first_us"),
    )
    anchor = union.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    for r in per.collect():
        g = got[r.event_type]
        assert g["n_events"] == r.n
        assert g["last_us"] == r.last_us
        assert g["staleness_us"] == anchor - r.last_us
        assert g["span_us"] == r.last_us - r.first_us
    assert got["b"]["is_stale"] is True and got["a"]["is_stale"] is False

    # replay: same checkpoint, no new data -> identical output
    q3 = run()
    q3.awaitTermination(120)
    got2 = {r.event_type: r.asDict() for r in read_freshness(spark, store).collect()}
    assert got2 == got


def test_stream_profile_drift_matches_batch_and_replay(spark, tmp_path):
    """Streaming profile drift vs a frozen baseline: folded counts,
    decimal-exact means, and the per-(type, user) partials' mergeable
    COUNT(DISTINCT) must equal the batch arithmetic over both waves;
    checkpoint replay must be a no-op."""
    from data_ingestors_spark.streaming.monitors import (
        profile_baseline,
        read_profile_drift,
        stream_profile_fold,
    )

    schema = "event_type string, user_id long, value double"
    src = str(tmp_path / "src")
    store = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    ref = spark.createDataFrame(
        [("a", i % 7, float(i % 10)) for i in range(100)]
        + [("b", i % 3, 5.0) for i in range(40)],
        schema,
    )
    base = profile_baseline(ref)
    # stream: value mean shifts up on 'a', user set widens on 'b'
    wave1 = [("a", i % 5, float(10 + i % 4)) for i in range(30)]
    wave2 = [("a", 9, 20.0)] * 10 + [("b", 100 + i, 5.5) for i in range(8)]
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode("append").parquet(src)

    run = lambda: stream_profile_fold(
        spark.readStream.schema(schema).parquet(src), store, ckpt, available_now=True
    )
    q = run()
    q.awaitTermination(120)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(src)
    q2 = run()
    q2.awaitTermination(120)

    got = {r.event_type: r.asDict() for r in read_profile_drift(spark, store, base).collect()}

    rows = wave1 + wave2
    for et in ("a", "b"):
        sub = [r for r in rows if r[0] == et]
        refsub = [("x", i % 7, float(i % 10)) for i in range(100)] if et == "a" else [
            ("x", i % 3, 5.0) for i in range(40)
        ]
        g = got[et]
        assert g["n_new"] == len(sub)
        assert g["ndv_user_new"] == len({r[1] for r in sub})
        assert g["n_ref"] == len(refsub)
        assert abs(g["avg_value_new"] - sum(r[2] for r in sub) / len(sub)) < 1e-9
        assert abs(g["avg_value_ref"] - sum(r[2] for r in refsub) / len(refsub)) < 1e-9
        assert abs(
            g["avg_value_delta"] - round(g["avg_value_new"] - g["avg_value_ref"], 4)
        ) < 1e-9
    # the engineered drifts register
    assert got["a"]["avg_value_delta"] > 5
    assert got["b"]["ndv_user_new"] == 8

    q3 = run()
    q3.awaitTermination(120)
    got2 = {r.event_type: r.asDict() for r in read_profile_drift(spark, store, base).collect()}
    assert got2 == got


def test_psi_baseline_constant_column_degenerate_range(spark):
    """A constant-valued reference column makes (vmax - vmin) zero;
    the guarded bin expression must pin every row to bin 0 instead of
    NaN-ing the division into a silent null bin."""
    from data_ingestors_spark.streaming.drift import psi_baseline

    ref = spark.createDataFrame(
        [("a", 7.0)] * 25 + [("b", 7.0)] * 15,
        "event_type string, value double",
    )
    rows = psi_baseline(ref).collect()
    assert sorted((r.event_type, r.bin, r.c_ref) for r in rows) == [
        ("a", 0, 25),
        ("b", 0, 15),
    ]
    assert all(r.bin is not None for r in rows)


def test_stream_incremental_dedup_matches_batch_and_replay(spark, tmp_path):
    """Streaming incremental-dedup monitor: wave 2's folded report
    must equal BOTH the oracle-paired registry query (same corpus /
    batch split) and the batch index operator; a checkpoint replay
    with no new data must leave the store byte-identical (exactly-once
    effect — the corpus probe excludes the replayed batch's own
    partitions)."""
    from data_ingestors_spark.operators.dedup import (
        build_fingerprint_index,
        incremental_dedup_report,
    )
    from data_ingestors_spark.queries.base import tables
    from data_ingestors_spark.queries.text_audits import q_incremental_dedup
    from data_ingestors_spark.streaming import (
        read_incremental_dedup,
        stream_incremental_dedup,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "source", "text"
    )
    schema = "doc_id long, source string, text string"
    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    reports = str(tmp_path / "reports")
    ckpt = str(tmp_path / "ckpt")
    # wave 1 = the registry query's corpus slice, wave 2 = its batch
    # slice, so wave 2's streamed report must equal the DuckDB-paired
    # relational query verbatim
    docs.filter(F.col("doc_id") % 10 != 0).coalesce(1).write.mode("append").parquet(src)

    run = lambda: stream_incremental_dedup(
        spark.readStream.schema(schema).parquet(src),
        index, reports, ckpt, n_buckets=16, available_now=True,
    )
    q = run()
    q.awaitTermination(120)
    docs.filter(F.col("doc_id") % 10 == 0).coalesce(1).write.mode("append").parquet(src)
    q2 = run()
    q2.awaitTermination(120)

    rep = read_incremental_dedup(spark, reports)
    batches = sorted(r[0] for r in rep.select("__batch").distinct().collect())
    assert len(batches) == 2
    wave2 = [
        tuple(r)
        for r in rep.filter(F.col("__batch") == batches[1])
        .drop("__batch")
        .orderBy("source")
        .collect()
    ]
    want = [tuple(r) for r in q_incremental_dedup(spark, sf_dir).collect()]
    assert wave2 == want and want

    # ... and the batch index operator agrees (three-way equality)
    idx2 = str(tmp_path / "batch_index")
    build_fingerprint_index(
        spark, idx2, docs.filter(F.col("doc_id") % 10 != 0), n_buckets=16
    )
    got_op = [
        tuple(r)
        for r in incremental_dedup_report(
            spark, idx2, docs.filter(F.col("doc_id") % 10 == 0), n_buckets=16
        ).collect()
    ]
    assert got_op == want

    # replay: same checkpoint, no new files -> identical reports
    before = sorted(tuple(r) for r in rep.collect())
    q3 = run()
    q3.awaitTermination(120)
    after = sorted(tuple(r) for r in read_incremental_dedup(spark, reports).collect())
    assert after == before


def test_stream_embedding_neardup_matches_batch_operator(spark, tmp_path):
    """Streaming embedding near-dup (hyperplane-LSH + exact verify):
    after folding batches with near-dup pairs split ACROSS batches,
    the cumulative pair set must equal the batch LSH operator over
    the union corpus; replay must not duplicate; the low-threshold
    gate fails loud."""
    import numpy as np
    import pytest

    from data_ingestors_spark.operators.similarity import blocked_cosine_pairs
    from data_ingestors_spark.streaming import stream_embedding_neardup

    rng = np.random.RandomState(61)
    dim = 16

    def unit(v):
        v = np.asarray(v, dtype=np.float32)
        return (v / np.linalg.norm(v)).tolist()

    a = rng.randn(dim)
    b = rng.randn(dim)
    vecs = [
        (0, unit(a)),
        (1, unit(a + 0.05 * rng.randn(dim))),   # near-dup of 0, batch 1
        (2, unit(b)),
        (3, unit(a + 0.04 * rng.randn(dim))),   # near-dup of 0/1, batch 2
        (4, unit(b + 0.05 * rng.randn(dim))),   # near-dup of 2, batch 2
        (5, unit(rng.randn(dim))),
    ]
    schema = "vec_id long, embedding array<float>"
    src = str(tmp_path / "src")
    spark.createDataFrame(vecs[:3], schema).coalesce(1).write.mode("append").parquet(src)

    stream = lambda: stream_embedding_neardup(
        spark.readStream.schema(schema).parquet(src),
        str(tmp_path / "index"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
        threshold=0.9,
        available_now=True,
    )
    q = stream()
    q.awaitTermination(120)
    spark.createDataFrame(vecs[3:], schema).coalesce(1).write.mode("append").parquet(src)
    q2 = stream()
    q2.awaitTermination(120)

    got = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    expect = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in blocked_cosine_pairs(
            spark.createDataFrame(vecs, schema), threshold=0.9,
            block_col=None, dim=dim,
        ).collect()
    }
    assert got == expect and expect, (got, expect)
    # pairs span batches (vec 3 arrived after 0/1; vec 4 after 2)
    assert any(a_ in (0, 1) and b_ == 3 for a_, b_, _ in got)
    assert (2, 4) in {(a_, b_) for a_, b_, _ in got}
    # replay produced no duplicate (id_a, id_b) rows
    ids = [(r.id_a, r.id_b) for r in spark.read.parquet(str(tmp_path / "pairs")).collect()]
    assert len(ids) == len(set(ids))

    # the geometry gate: a threshold LSH cannot prune fails loud
    from data_ingestors_spark.streaming import embedding_neardup_fold_batch

    with pytest.raises(ValueError, match="cannot prune"):
        embedding_neardup_fold_batch(
            spark,
            spark.createDataFrame(vecs[:2], schema),
            0,
            str(tmp_path / "idx2"),
            str(tmp_path / "pairs2"),
            threshold=0.35,
        )


def test_compact_embedding_index_preserves_future_detection(spark, tmp_path):
    """Compacting the embedding sketch/vector index must not change
    what later batches detect: a near-dup arriving AFTER compaction
    still pairs with a pre-compaction vector."""
    import numpy as np

    from data_ingestors_spark.streaming import (
        compact_embedding_neardup_index,
        embedding_neardup_fold_batch,
    )

    rng = np.random.RandomState(62)
    dim = 16
    a = rng.randn(dim).astype(np.float32)
    a = (a / np.linalg.norm(a)).tolist()
    near = rng.randn(dim) * 0.03
    b = np.asarray(a) + near
    b = (b / np.linalg.norm(b)).astype(np.float32).tolist()
    schema = "vec_id long, embedding array<float>"
    index, pairs = str(tmp_path / "idx"), str(tmp_path / "pairs")

    embedding_neardup_fold_batch(
        spark, spark.createDataFrame([(0, a)], schema), 0, index, pairs
    )
    compact_embedding_neardup_index(spark, index)
    embedding_neardup_fold_batch(
        spark, spark.createDataFrame([(1, b)], schema), 1, index, pairs
    )
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(pairs).collect()}
    assert got == {(0, 1)}
