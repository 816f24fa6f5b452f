"""Bucketed incremental upsert: portability, determinism, and the
only-touched-buckets-rewrite contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_ingestors_spark.io.fs import path_exists
from data_ingestors_spark.io.writers import (
    BUCKET_COL,
    read_table,
    upsert,
)


def bucket_files(path):
    """{bucket_dir: {file: mtime_ns}} for every parquet part file."""
    out = {}
    for d in os.listdir(path):
        if d.startswith(f"{BUCKET_COL}="):
            files = {}
            for f in os.listdir(os.path.join(path, d)):
                if f.endswith(".parquet"):
                    files[f] = os.stat(os.path.join(path, d, f)).st_mtime_ns
            out[d] = files
    return out


def test_upsert_counts_and_merge(spark, tmp_path):
    t = str(tmp_path / "t")
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], ["data_id", "v"])
    assert upsert(spark, t, df1) == (0, 2, 0)
    df2 = spark.createDataFrame([("b", 20), ("c", 3)], ["data_id", "v"])
    assert upsert(spark, t, df2) == (1, 1, 0)  # b updated, c inserted
    rows = {r.data_id: r.v for r in read_table(spark, t).collect()}
    assert rows == {"a": 1, "b": 20, "c": 3}
    # the internal bucket column never leaks to readers
    assert BUCKET_COL not in read_table(spark, t).columns


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    t = str(tmp_path / "t")
    base = spark.createDataFrame([(f"k{i}", i) for i in range(200)], ["data_id", "v"])
    upsert(spark, t, base, n_buckets=8)
    before = bucket_files(t)
    assert len(before) > 1  # data spread over several buckets

    one = spark.createDataFrame([("k0", 999)], ["data_id", "v"])
    upsert(spark, t, one, n_buckets=8)
    after = bucket_files(t)

    touched = [d for d in before if before[d] != after.get(d)]
    untouched = [d for d in before if before[d] == after.get(d)]
    assert len(touched) == 1  # exactly the bucket holding k0
    assert len(untouched) == len(before) - 1  # every other bucket untouched
    rows = {r.data_id: r.v for r in read_table(spark, t).collect()}
    assert rows["k0"] == 999 and rows["k1"] == 1 and len(rows) == 200


def test_upsert_batch_dedup_is_deterministic(spark, tmp_path):
    # two rows with the same key: the winner must be stable across runs
    # and partitionings (row_number over a content hash, not
    # dropDuplicates' arbitrary pick)
    rows = [("k", "alpha"), ("k", "beta")]
    winners = set()
    for rep in range(3):
        t = str(tmp_path / f"t{rep}")
        df = spark.createDataFrame(rows, ["data_id", "v"]).repartition(rep + 1)
        upsert(spark, t, df)
        winners.add(read_table(spark, t).collect()[0].v)
    assert len(winners) == 1


def test_path_exists_via_hadoop_fs(spark, tmp_path):
    assert not path_exists(spark, str(tmp_path / "nope"))
    (tmp_path / "yes").mkdir()
    assert path_exists(spark, str(tmp_path / "yes"))
    # scheme-qualified local URI also works (portability smoke)
    assert path_exists(spark, f"file://{tmp_path}/yes")


def test_upsert_upgrades_legacy_flat_layout(spark, tmp_path):
    # a table written before bucketing (flat parquet, no __bucket)
    t = str(tmp_path / "t")
    spark.createDataFrame([("a", 1), ("b", 2)], ["data_id", "v"]).write.parquet(t)
    df = spark.createDataFrame([("b", 20), ("c", 3)], ["data_id", "v"])
    assert upsert(spark, t, df, n_buckets=8) == (1, 1, 0)
    rows = {r.data_id: r.v for r in read_table(spark, t).collect()}
    assert rows == {"a": 1, "b": 20, "c": 3}
    # upgraded in place to the bucketed layout
    assert bucket_files(t)


def test_upsert_whole_table_rewrites_immune_to_dynamic_mode(spark, tmp_path):
    """Regression (ADVICE r12, medium): upsert's legacy-flat upgrade and
    schema-evolution branches rewrite the WHOLE table via an overwrite
    partitioned write. Under an ambient session
    partitionOverwriteMode=dynamic (set by callers like the concurrent
    refresh folds pre-r13, and a common cluster default) that write used
    to replace only the new __bucket=* partitions and leave the old flat
    parquet files at the table root — readers then returned duplicated
    rows. The whole-table rewrites now write a new table beside the
    old one and swap it in, so no file of the old layout can survive."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

        # legacy flat layout upgrade
        t = str(tmp_path / "legacy")
        spark.createDataFrame([("a", 1), ("b", 2)], ["data_id", "v"]).write.parquet(t)
        assert upsert(spark, t, spark.createDataFrame([("b", 20), ("c", 3)], ["data_id", "v"]), n_buckets=8) == (1, 1, 0)
        flat_leftovers = [f for f in os.listdir(t) if f.endswith(".parquet")]
        assert not flat_leftovers, f"stale flat files survived the upgrade: {flat_leftovers}"
        rows = {r.data_id: r.v for r in read_table(spark, t).collect()}
        assert rows == {"a": 1, "b": 20, "c": 3}

        # schema evolution rewrite
        t2 = str(tmp_path / "evolve")
        upsert(spark, t2, spark.createDataFrame([("a", 1)], ["data_id", "v"]), n_buckets=8)
        before = bucket_files(t2)
        upsert(
            spark, t2,
            spark.createDataFrame([("b", 2, "x")], ["data_id", "v", "extra"]),
            n_buckets=8, allow_evolution=True,
        )
        rows = {r.data_id: (r.v, r.extra) for r in read_table(spark, t2).collect()}
        assert rows == {"a": (1, None), "b": (2, "x")}
        # the rewrite replaced the whole table: no pre-evolution file may
        # survive (a mixed-schema directory silently drops the new column)
        after = bucket_files(t2)
        stale = [
            f for d, files in before.items() for f in files
            if f in after.get(d, {}) and after[d][f] == files[f]
        ]
        assert not stale, f"pre-evolution files survived the rewrite: {stale}"
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_upsert_idempotent_reingest(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["data_id", "v"])
    upsert(spark, t, df)
    assert upsert(spark, t, df) == (2, 0, 0)  # same batch: all updates
    assert read_table(spark, t).count() == 2


def test_export_table_formats(spark, tmp_path):
    from data_ingestors_spark.io.writers import export_table

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    for fmt in ("csv", "json", "parquet", "orc"):
        path = str(tmp_path / f"out_{fmt}")
        export_table(df, path, fmt, single_file=True)
        if fmt == "csv":
            back = spark.read.option("header", True).schema("k long, v string").csv(path)
        elif fmt == "json":
            back = spark.read.schema("k long, v string").json(path)
        else:
            back = getattr(spark.read, fmt)(path)
        assert sorted((r.k, r.v) for r in back.collect()) == [(1, "a"), (2, "b")]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported"):
        export_table(df, str(tmp_path / "x"), "xml")


def test_export_partitioned_by_column(spark, tmp_path):
    from data_ingestors_spark.io.writers import export_table

    df = spark.createDataFrame(
        [("en", 1), ("en", 2), ("de", 3)], "lang string, doc long"
    )
    path = str(tmp_path / "sharded")
    export_table(df, path, "parquet", partition_by=["lang"])
    import os

    shards = {d for d in os.listdir(path) if d.startswith("lang=")}
    assert shards == {"lang=en", "lang=de"}
    back = spark.read.parquet(path)
    assert back.count() == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        export_table(df, path, "parquet", single_file=True, partition_by=["lang"])


def test_compact_table_reduces_files_and_preserves_rows(spark, tmp_path):
    from data_ingestors_spark.io.writers import compact_table, read_table, upsert

    target = str(tmp_path / "t")
    for i in range(2):
        batch = spark.createDataFrame(
            [(f"id{j}", i) for j in range(i * 10, i * 10 + 10)], "data_id string, v long"
        )
        upsert(spark, target, batch, key="data_id", n_buckets=4)
    # the upsert path itself clusters writes to ~1 file per bucket, so
    # fabricate fragmentation the way an external appender would:
    # append extra files straight into the partitioned layout
    import os as _os

    frag = spark.createDataFrame(
        [(f"xid{j}", 100 + j) for j in range(20)], "data_id string, v long"
    )
    from pyspark.sql import functions as _F

    frag = frag.withColumn(
        "__bucket", _F.pmod(_F.xxhash64(_F.col("data_id")), _F.lit(4)).cast("int")
    ).repartition(6)
    frag.write.mode("append").partitionBy("__bucket").parquet(target)
    assert any(
        len([f for f in _os.listdir(_os.path.join(target, d)) if f.endswith(".parquet")]) > 1
        for d in _os.listdir(target)
        if d.startswith("__bucket=")
    )
    before = read_table(spark, target)
    rows_before = sorted((r.data_id, r.v) for r in before.collect())

    stats = compact_table(spark, target, files_per_bucket=1)
    assert stats["buckets"] > 0
    assert stats["files_after"] < stats["files_before"]

    after = read_table(spark, target)
    assert sorted((r.data_id, r.v) for r in after.collect()) == rows_before
    # compaction is invisible to the upsert path: another batch still works
    upsert(spark, target, spark.createDataFrame([("id0", 99)], "data_id string, v long"))
    assert read_table(spark, target).filter("data_id = 'id0'").collect()[0].v == 99


def test_upsert_schema_drift_is_loud_and_evolution_opt_in(spark, tmp_path):
    from data_ingestors_spark.io.writers import read_table, upsert

    target = str(tmp_path / "t")
    upsert(spark, target, spark.createDataFrame([("a", 1)], "data_id string, v long"))

    # missing column: clear error naming it
    with pytest.raises(ValueError, match=r"missing table columns \['v'\]"):
        upsert(spark, target, spark.createDataFrame([("b",)], "data_id string"))

    # extra column without opt-in: clear error naming it
    extra = spark.createDataFrame([("b", 2, "x")], "data_id string, v long, tag string")
    with pytest.raises(ValueError, match=r"new columns \['tag'\]"):
        upsert(spark, target, extra)

    # opt-in evolution: column appended, old rows read NULL, counts right
    updated, inserted, _ = upsert(spark, target, extra, allow_evolution=True)
    assert (updated, inserted) == (0, 1)
    rows = {r.data_id: (r.v, r.tag) for r in read_table(spark, target).collect()}
    assert rows == {"a": (1, None), "b": (2, "x")}

    # post-evolution schema is uniform: a plain upsert still works
    upsert(spark, target, spark.createDataFrame(
        [("a", 9, "y")], "data_id string, v long, tag string"))
    assert {r.data_id: (r.v, r.tag) for r in read_table(spark, target).collect()} == {
        "a": (9, "y"), "b": (2, "x"),
    }


def test_table_stats_drives_compaction(spark, tmp_path):
    from data_ingestors_spark.io.writers import compact_table, table_stats, upsert

    target = str(tmp_path / "t")
    for i in range(5):
        upsert(spark, target, spark.createDataFrame(
            [(f"id{j}", i) for j in range(i * 5, i * 5 + 5)], "data_id string, v long"
        ), n_buckets=4)
    # fragment one bucket externally (upserts themselves stay clustered
    # at ~1 file per bucket)
    from pyspark.sql import functions as _F

    frag = spark.createDataFrame(
        [(f"xid{j}", 100 + j) for j in range(12)], "data_id string, v long"
    ).withColumn(
        "__bucket", _F.pmod(_F.xxhash64(_F.col("data_id")), _F.lit(4)).cast("int")
    ).repartition(4)
    frag.write.mode("append").partitionBy("__bucket").parquet(target)
    before = table_stats(spark, target)
    assert before["n_buckets"] > 0 and before["total_files"] > before["n_buckets"]

    compact_table(spark, target, files_per_bucket=1)
    after = table_stats(spark, target)
    assert after["avg_files_per_bucket"] == 1.0
    assert after["total_bytes"] > 0


def test_purge_keys_deletes_and_touches_only_their_buckets(spark, tmp_path):
    """GDPR purge: requested keys vanish, the rest survive byte-for-byte
    (untouched bucket files unmodified), absent keys are a no-op, and a
    replayed purge is idempotent."""
    from data_ingestors_spark.io.writers import purge_keys

    t = str(tmp_path / "t")
    base = spark.createDataFrame([(f"k{i}", i) for i in range(200)], ["data_id", "v"])
    upsert(spark, t, base, n_buckets=8)
    before = bucket_files(t)

    victims = spark.createDataFrame([("k0",), ("k7",), ("nope",)], ["data_id"])
    n = purge_keys(spark, t, victims, n_buckets=8)
    assert n == 2  # 'nope' was never in the table

    rows = {r.data_id: r.v for r in read_table(spark, t).collect()}
    assert "k0" not in rows and "k7" not in rows
    assert len(rows) == 198 and rows["k1"] == 1

    after = bucket_files(t)
    untouched = [d for d in before if before[d] == after.get(d)]
    # at most 3 buckets held the 3 requested keys; every other bucket
    # file list is identical
    assert len(untouched) >= len(before) - 3

    # replay: same purge deletes nothing more
    assert purge_keys(spark, t, victims, n_buckets=8) == 0
    assert len(read_table(spark, t).collect()) == 198


def test_purge_keys_empties_whole_bucket(spark, tmp_path):
    """Purging EVERY key of a bucket must remove the bucket directory,
    not silently keep its rows (the dynamic-overwrite blind spot)."""
    from data_ingestors_spark.io.writers import purge_keys

    t = str(tmp_path / "t")
    base = spark.createDataFrame([(f"k{i}", i) for i in range(40)], ["data_id", "v"])
    upsert(spark, t, base, n_buckets=4)
    all_keys = spark.createDataFrame([(f"k{i}",) for i in range(40)], ["data_id"])
    n = purge_keys(spark, t, all_keys, n_buckets=4)
    assert n == 40
    assert read_table(spark, t).count() == 0


def test_purge_keys_legacy_flat_layout(spark, tmp_path):
    """A pre-bucketing flat parquet table purges via the one-time
    full rewrite path (same contract as upsert's legacy upgrade)."""
    from data_ingestors_spark.io.writers import purge_keys

    t = str(tmp_path / "flat")
    spark.createDataFrame(
        [(f"k{i}", i) for i in range(50)], ["data_id", "v"]
    ).write.parquet(t)
    n = purge_keys(spark, t, spark.createDataFrame([("k3",), ("k4",)], ["data_id"]))
    assert n == 2
    rows = {r.data_id for r in spark.read.parquet(t).collect()}
    assert "k3" not in rows and "k4" not in rows and len(rows) == 48
    # the temp swap dir must not linger after a successful purge
    import os

    assert not os.path.exists(t + "__purge_tmp")


def test_purge_keys_recovers_interrupted_legacy_swap(spark, tmp_path):
    """Crash window between the legacy path's target delete and the
    temp-dir rename: target is gone, <target>__purge_tmp holds the
    full keep-set. The next purge_keys on that target must finish the
    swap and then apply its own purge — converging, not returning 0."""
    import shutil

    from data_ingestors_spark.io.writers import purge_keys

    t = str(tmp_path / "flat")
    spark.createDataFrame(
        [(f"k{i}", i) for i in range(30)], ["data_id", "v"]
    ).write.parquet(t)
    # simulate the crash: keep-set (minus k0) durable at the swap
    # path, target deleted
    spark.read.parquet(t).filter("data_id <> 'k0'").write.parquet(t + "__purge_tmp")
    shutil.rmtree(t)
    # replayed purge (same keys: k0 already gone, k1 still present)
    victims = spark.createDataFrame([("k0",), ("k1",)], ["data_id"])
    n = purge_keys(spark, t, victims)
    assert n == 1  # only k1 remained to delete
    rows = {r.data_id for r in spark.read.parquet(t).collect()}
    assert rows == {f"k{i}" for i in range(2, 30)}


def _reference_upsert(
    table: dict, batch: list[tuple], order: list[int] | None = None
) -> tuple[tuple[int, int, int], dict]:
    """Plain-Python MERGE: the in-batch winner per key is the row with
    the smallest sha256 of its ``\\x1f``-joined values (the dedup's
    tiebreak), joined in the batch's column ``order`` (indices into the
    row; the row's own order by default); it replaces or inserts the
    table row. Returns the expected (updated, inserted, deduped) and
    the table afterwards."""
    import hashlib

    winners: dict = {}
    for row in batch:
        values = [row[i] for i in order] if order else row
        h = hashlib.sha256("\x1f".join(str(v) for v in values).encode()).hexdigest()
        if row[0] not in winners or h < winners[row[0]][0]:
            winners[row[0]] = (h, row)
    updated = sum(1 for k in winners if k in table)
    after = {**table, **{k: row for k, (_h, row) in winners.items()}}
    return (updated, len(winners) - updated, len(batch) - len(winners)), after


def _table_rows(spark, t, cols):
    return {r[0]: tuple(r) for r in read_table(spark, t).select(*cols).collect()}


@pytest.mark.parametrize(
    "path", ["fresh", "fresh_empty", "merge", "merge_empty", "all_duplicates", "evolution", "legacy_flat"]
)
def test_upsert_counts_match_python_reference(spark, tmp_path, path):
    t = str(tmp_path / "t")
    cols = ["data_id", "v"]
    base = [(f"k{i}", i) for i in range(40)]
    batch = [(f"k{i}", 100 + i) for i in range(30, 60)] + [("k31", 7), ("k55", 8), ("k55", 9)]
    table: dict = {}
    if path.startswith("fresh"):
        batch = [] if path == "fresh_empty" else batch
    elif path == "legacy_flat":
        spark.createDataFrame(base, cols).write.parquet(t)
        table = {r[0]: r for r in base}
    else:
        upsert(spark, t, spark.createDataFrame(base, cols), n_buckets=8)
        table = {r[0]: r for r in base}
        if path == "merge_empty":
            batch = []
        elif path == "all_duplicates":
            batch = [("k3", 30), ("k3", 31), ("k3", 32), ("new", 1), ("new", 2)]
    if path == "evolution":
        cols = ["data_id", "v", "tag"]
        batch = [r + ("x",) for r in batch]
        table = {k: r + (None,) for k, r in table.items()}

    expected, after = _reference_upsert(table, batch)
    df = spark.createDataFrame(batch, "data_id string, v long" + (", tag string" if len(cols) == 3 else ""))
    assert upsert(spark, t, df, n_buckets=8, allow_evolution=path == "evolution") == expected
    if after:
        assert _table_rows(spark, t, cols) == after


@pytest.mark.parametrize("n_buckets", [1, 8])
def test_merge_keeps_the_table_column_order(spark, tmp_path, n_buckets):
    """A merge writes the table's own column order into every bucket it
    rewrites, whatever the batch's order and wherever the key sits, so
    every file and ``read_table`` agree with the fresh table."""
    t = str(tmp_path / "t")
    cols = ["v", "data_id", "w"]
    upsert(spark, t, spark.createDataFrame([(i, f"k{i}", "a") for i in range(40)], cols), n_buckets=n_buckets)
    batch = spark.createDataFrame([(f"k{i}", "b", -i) for i in range(0, 80, 2)], ["data_id", "w", "v"])
    assert upsert(spark, t, batch) == (20, 20, 0)
    assert read_table(spark, t).columns == cols
    for d in bucket_files(t):
        assert spark.read.parquet(os.path.join(t, d)).columns == cols, d
    assert read_table(spark, t).count() == 60


@pytest.mark.parametrize("n_buckets", [1, 8])
def test_null_keys_in_a_merge(spark, tmp_path, n_buckets):
    """Null keys never match: every current row with a null key
    survives a merge, and the batch's null-key rows collapse to one,
    counted as an insert."""
    t = str(tmp_path / "t")
    schema = "data_id string, v long"
    steps = (
        ([(f"k{i}", i) for i in range(6)] + [(None, 100), (None, 101)], (0, 7, 1)),
        ([(None, 200), (None, 201), ("k1", 11), ("k1", 12), ("k20", 20)], (1, 2, 2)),
        ([(None, 300), ("k2", 22)], (1, 1, 0)),
        ([("k3", 33), ("k3", 34)], (1, 0, 1)),
    )
    for rows, want in steps:
        got = upsert(spark, t, spark.createDataFrame(rows, schema), n_buckets=n_buckets)
        assert got == want, rows
    table = sorted((r.data_id or "", r.v) for r in read_table(spark, t).collect())
    assert table == [
        ("", 101), ("", 200), ("", 300),
        ("k0", 0), ("k1", 11), ("k2", 22), ("k20", 20), ("k3", 33), ("k4", 4), ("k5", 5),
    ]


def test_merge_keeps_every_current_row_the_batch_does_not_match(spark, tmp_path):
    """As a left anti-join would, a merge keeps every current row whose
    key no batch row carries, even rows sharing a key (a table written
    by hand in the legacy flat layout), and replaces every row whose
    key it does carry."""
    t = str(tmp_path / "flat")
    cols = ["data_id", "v"]
    spark.createDataFrame([("a", 1), ("a", 2), ("b", 3), ("b", 4), ("c", 5)], cols).write.parquet(t)
    upsert(spark, t, spark.createDataFrame([("b", 9), ("d", 6)], cols))
    assert sorted(tuple(r) for r in read_table(spark, t).collect()) == [
        ("a", 1), ("a", 2), ("b", 9), ("c", 5), ("d", 6)
    ]


@pytest.mark.parametrize("n_buckets", [1, 8])
def test_permuted_batch_keeps_the_reference_winner(spark, tmp_path, n_buckets):
    """A batch that lists the table's columns in another order dedups
    by the hash of its rows in its own column order, as the reference
    MERGE does; the merged rows land in the table's order."""
    t = str(tmp_path / "t")
    cols = ["data_id", "v", "w"]
    base = [(f"k{i}", i, "old") for i in range(30)]
    upsert(spark, t, spark.createDataFrame(base, cols), n_buckets=n_buckets)
    batch = [(f"k{i % 12 + 20}", 100 + i, f"w{i % 5}") for i in range(36)]
    order = [2, 0, 1]  # the batch lists (w, data_id, v)
    table = {r[0]: r for r in base}
    expected, after = _reference_upsert(table, batch, order)
    # the permutation decides at least one winner, so the test can fail
    assert after != _reference_upsert(table, batch)[1]
    df = spark.createDataFrame([tuple(r[i] for i in order) for r in batch], ["w", "data_id", "v"])
    assert upsert(spark, t, df) == expected
    assert _table_rows(spark, t, cols) == after


def _group_work(spark, group):
    """(jobs, stages that wrote shuffle output) of a job group."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    st, store = sc.statusTracker(), jsc.statusStore()
    jobs = st.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
    shuffles = 0
    for s in stages:
        try:
            shuffles += store.lastStageAttempt(s).shuffleWriteBytes() > 0
        except Py4JJavaError:  # a stage never submitted (skipped)
            pass
    return len(jobs), shuffles


def test_upsert_is_one_shuffle(spark, tmp_path):
    """A fresh insert is one shuffle and one write, at most 2 jobs; a
    merge into a one-bucket table adds only the schema read, at most 3
    jobs with exactly one shuffle-map stage — no job before the write
    to find its touched bucket or count the batch."""
    sc = spark.sparkContext
    t = str(tmp_path / "t")
    rows = spark.range(2000).selectExpr("concat('k', id) AS data_id", "id AS v")
    for op, batch, want in (
        ("fresh", rows, (0, 2000, 0)),
        ("merge", rows.filter("v >= 1000").selectExpr("data_id", "v + 1 AS v").union(
            spark.range(2000, 2500).selectExpr("concat('k', id)", "id")), (1000, 500, 0)),
    ):
        group = f"one-shuffle-{op}-{tmp_path.name}"
        sc.setJobGroup(group, op)
        try:
            assert upsert(spark, t, batch) == want
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs, shuffles = _group_work(spark, group)
        assert shuffles == 1, op
        assert jobs <= (2 if op == "fresh" else 3), op
    assert _recorded_buckets(spark, t) == 1


def test_fresh_insert_writes_one_file_per_bucket_in_at_most_one_task_per_core(spark, tmp_path):
    """64 buckets on fewer cores: the clustered write runs at most
    ``defaultParallelism`` tasks and still leaves exactly one file in
    every bucket directory."""
    sc = spark.sparkContext
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(f"k{i}", i) for i in range(2000)], ["data_id", "v"])
    group = f"fresh-insert-{tmp_path.name}"
    sc.setJobGroup(group, "fresh 64-bucket insert")
    try:
        assert upsert(spark, t, df, n_buckets=64) == (0, 2000, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    write_job = max(st.getJobIdsForGroup(group))
    write_stage = st.getStageInfo(max(st.getJobInfo(write_job).stageIds))
    assert write_stage.numTasks <= sc.defaultParallelism < 64
    files = bucket_files(t)
    assert len(files) == 64
    assert all(len(f) == 1 for f in files.values()), files


def test_cluster_by_bucket_keeps_one_partition_per_bucket_when_cores_suffice(spark):
    """With at least ``n_buckets`` cores the clustered plan is the
    unchanged one-partition-per-bucket plan; with fewer it is capped at
    the cores."""
    from data_ingestors_spark.io.writers import _cluster_by_bucket

    cores = spark.sparkContext.defaultParallelism
    df = spark.range(100).withColumn(BUCKET_COL, (F.col("id") % 64).cast("int"))
    for n_buckets, want in ((cores, cores), (max(cores // 2, 1), max(cores // 2, 1)), (cores + 64, cores)):
        plan = _cluster_by_bucket(df, n_buckets)._jdf.queryExecution().logical()
        assert plan.numPartitions() == want


def test_tune_caps_table_listing_at_the_session_cores(spark, tmp_path):
    """A session handed in with Spark's listing default gets it capped
    by ``session.tune``: reading a 64-bucket table then lists it in at
    most ``defaultParallelism`` tasks, not one task per bucket."""
    from data_ingestors_spark.session import tune

    key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    sc = spark.sparkContext
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(f"k{i}", i) for i in range(500)], ["data_id", "v"])
    upsert(spark, t, df, n_buckets=64)
    prev = spark.conf.get(key)
    spark.conf.set(key, "10000")  # Spark's default
    group = f"listing-{tmp_path.name}"
    try:
        tune(spark)
        assert spark.conf.get(key) == str(sc.defaultParallelism)
        sc.setJobGroup(group, "read a 64-bucket table")
        try:
            spark.read.parquet(t)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        spark.conf.set(key, prev)
    st = sc.statusTracker()
    stages = [st.getStageInfo(s) for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]
    assert stages
    assert max(s.numTasks for s in stages) <= sc.defaultParallelism < 64


def _recorded_buckets(spark, t):
    """The table's recorded bucket count, after checking that every row
    sits in ``pmod(xxhash64(key), count)``."""
    from data_ingestors_spark.io.writers import bucket_count

    n = bucket_count(spark, t)
    stray = spark.read.parquet(t).filter(
        F.col(BUCKET_COL) != F.pmod(F.xxhash64(F.col("data_id").cast("string")), F.lit(n))
    )
    assert stray.count() == 0
    return n


def test_new_table_records_a_count_sized_to_its_data(spark, tmp_path):
    """A new table gets the fewest buckets that hold it in read splits
    (one, for a small batch), recorded inside the table where Spark's
    reader does not see it; an explicit ``n_buckets`` is recorded as
    given. A frame whose size Spark cannot estimate (one made from a
    Python list) gets 64, as every table did before counts were
    recorded."""
    df = spark.range(200).selectExpr("concat('k', id) AS data_id", "id AS v")
    t = str(tmp_path / "sized")
    upsert(spark, t, df)
    assert _recorded_buckets(spark, t) == 1
    assert len(bucket_files(t)) == 1
    listed = str(tmp_path / "listed")
    upsert(spark, listed, spark.createDataFrame([(f"k{i}", i) for i in range(200)], ["data_id", "v"]))
    assert _recorded_buckets(spark, listed) == 64
    assert os.path.exists(os.path.join(t, "_buckets.json"))
    assert read_table(spark, t).columns == ["data_id", "v"]
    t8 = str(tmp_path / "eight")
    upsert(spark, t8, df, n_buckets=8)
    assert _recorded_buckets(spark, t8) == 8
    with pytest.raises(ValueError, match="has 8 buckets"):
        upsert(spark, t8, df, n_buckets=4)


def test_merge_hashes_with_the_recorded_bucket_count(spark, tmp_path):
    """A merge that does not name the count uses the table's: 200 keys
    stay 200 rows (a caller's default count used to hash 50 updates
    into the wrong buckets and store them a second time)."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(f"k{i}", i) for i in range(200)], ["data_id", "v"])
    upsert(spark, t, df, n_buckets=8)
    assert upsert(spark, t, df.orderBy("data_id").limit(50)) == (50, 0, 0)
    rows = read_table(spark, t)
    assert rows.count() == 200 and rows.select("data_id").distinct().count() == 200
    assert _recorded_buckets(spark, t) == 8


def test_purge_keys_hashes_with_the_recorded_bucket_count(spark, tmp_path):
    """A purge that does not name the count uses the table's: all 20
    victims go (a caller's default count used to find 5 of them)."""
    from data_ingestors_spark.io.writers import purge_keys

    t = str(tmp_path / "t")
    upsert(spark, t, spark.createDataFrame([(f"k{i}", i) for i in range(200)], ["data_id", "v"]), n_buckets=8)
    victims = spark.createDataFrame([(f"k{i}",) for i in range(0, 200, 10)], ["data_id"])
    assert purge_keys(spark, t, victims) == 20
    assert {r.data_id for r in read_table(spark, t).collect()} == {
        f"k{i}" for i in range(200) if i % 10
    }
    with pytest.raises(ValueError, match="has 8 buckets"):
        purge_keys(spark, t, victims, n_buckets=64)


def test_unrecorded_64_bucket_table_merges_purges_and_compacts(spark, tmp_path):
    """A table written before counts were recorded (64 buckets, no
    ``_buckets.json``) reads as 64: it merges in place, purges and
    compacts as before, and gains no recorded count."""
    from data_ingestors_spark.io.writers import compact_table, purge_keys

    t = str(tmp_path / "t")
    base = [(f"k{i}", i) for i in range(300)]
    spark.createDataFrame(base, ["data_id", "v"]).withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col("data_id")), F.lit(64)).cast("int")
    ).repartition(2).write.partitionBy(BUCKET_COL).parquet(t)
    batch = [(f"k{i}", 1000 + i) for i in range(290, 310)]
    assert upsert(spark, t, spark.createDataFrame(batch, ["data_id", "v"])) == (10, 10, 0)
    assert not os.path.exists(os.path.join(t, "_buckets.json"))
    assert _recorded_buckets(spark, t) == 64
    victims = spark.createDataFrame([("k0",), ("k1",), ("k305",)], ["data_id"])
    assert purge_keys(spark, t, victims) == 3
    assert compact_table(spark, t)["buckets"] > 0
    want = {**dict(base), **dict(batch)}
    for k in ("k0", "k1", "k305"):
        del want[k]
    assert {r.data_id: r.v for r in read_table(spark, t).collect()} == want
    assert _recorded_buckets(spark, t) == 64


def test_swap_siblings_of_a_relative_path_are_relative():
    """A table at a relative path (resolved against the working
    directory, as Spark resolves it) is swapped beside itself, not at
    the filesystem root."""
    from data_ingestors_spark.io.fs import swap_paths

    assert swap_paths("t") == (".t.swap_tmp", ".t.swap_old")
    assert swap_paths("d/t/") == ("d/.t.swap_tmp", "d/.t.swap_old")
    assert swap_paths("/t") == ("/.t.swap_tmp", "/.t.swap_old")


@pytest.fixture
def small_splits(spark):
    """Read splits of 512 bytes, so a table of a few KB outgrows a
    small bucket count."""
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "512")
    yield
    spark.conf.set(key, prev)


def test_merge_touching_every_bucket_grows_the_table(spark, tmp_path, small_splits):
    """A merge whose batch touches every bucket of a table that has
    outgrown its count re-hashes every row into a larger power of two
    and records it; rows and counts match the plain-Python MERGE."""
    t = str(tmp_path / "t")
    cols = ["data_id", "v"]
    base = [(f"k{i}", i) for i in range(400)]
    upsert(spark, t, spark.createDataFrame(base, cols), n_buckets=2)
    batch = [(f"k{i}", 100 + i) for i in range(380, 420)] + [("k381", 7), ("k415", 8)]
    expected, after = _reference_upsert({r[0]: r for r in base}, batch)
    assert upsert(spark, t, spark.createDataFrame(batch, "data_id string, v long")) == expected
    n = _recorded_buckets(spark, t)
    assert n > 2 and n & (n - 1) == 0
    assert _table_rows(spark, t, cols) == after
    # a merge that touches only some of the grown buckets stays in place
    before = bucket_files(t)
    assert upsert(spark, t, spark.createDataFrame([("k1", -1)], cols)) == (1, 0, 0)
    assert _recorded_buckets(spark, t) == n
    assert sum(before[d] != bucket_files(t).get(d) for d in before) == 1


@pytest.mark.parametrize("crash_into", ["old", "live"])
def test_growth_swap_crash_leaves_old_or_new_table(spark, tmp_path, monkeypatch, small_splits, crash_into):
    """A crash inside the whole-table swap of a growing merge leaves the
    old rows with the old count (``io.fs.recover``) or, once the merge
    is re-run, the new rows with the new count — never a mix. The
    re-run repairs a table crashed between the renames by itself: it
    must not take the hidden table for absent and write a new one."""
    from data_ingestors_spark.io import fs

    t = str(tmp_path / "t")
    cols = ["data_id", "v"]
    base = [(f"k{i}", i) for i in range(400)]
    upsert(spark, t, spark.createDataFrame(base, cols), n_buckets=2)
    batch = spark.createDataFrame([(f"k{i}", -i) for i in range(390, 410)], cols)
    crash_dst = t if crash_into == "live" else fs.swap_paths(t)[1]
    real_rename = fs.rename

    def crash(on, src, dst):
        if dst == crash_dst:
            raise OSError("simulated crash inside the table swap")
        real_rename(on, src, dst)

    monkeypatch.setattr(fs, "rename", crash)
    with pytest.raises(OSError):
        upsert(spark, t, batch)
    monkeypatch.setattr(fs, "rename", real_rename)
    assert os.path.exists(t) == (crash_into == "old")

    if crash_into == "old":
        fs.recover(spark, t)
        assert _recorded_buckets(spark, t) == 2
        assert _table_rows(spark, t, cols) == {r[0]: r for r in base}

    assert upsert(spark, t, batch) == (10, 10, 0)
    assert _recorded_buckets(spark, t) > 2
    want = {**{r[0]: r for r in base}, **{f"k{i}": (f"k{i}", -i) for i in range(390, 410)}}
    assert _table_rows(spark, t, cols) == want
    assert not [n for n in os.listdir(tmp_path) if n.startswith(".t.swap")]
