"""Sinks: hash-bucketed parquet table store with MERGE-style upsert.

The reference upserts batches into MySQL keyed on unique ``data_id``
(`INSERT ... ON DUPLICATE KEY UPDATE` — database.py:337-478) with
per-record fallback isolation. Spark-first equivalents:

- primary store: a parquet "table" directory **hash-bucketed on the
  key** (``__bucket = pmod(xxhash64(key), n)``). The bucket count
  ``n`` is a property of the table, recorded with it in a hidden
  ``_buckets.json`` (:func:`bucket_count`; a table written before
  counts were recorded has 64). A new table is sized to its data:
  the smallest power of two of buckets no larger than Spark's read
  split (``spark.sql.files.maxPartitionBytes``), at most 64 — a 10k-row
  batch writes one file, not 64. A merge that touches every bucket
  rewrites every bucket anyway, so it grows ``n`` to the table's
  on-disk size first. Otherwise an upsert reads and rewrites ONLY the
  buckets the batch touches (dynamic partition overwrite) — a 1-row
  batch against a 100 TB table moves one bucket, not the table;
- all filesystem probes, renames and deletes go through ``io/fs.py``
  on the Hadoop FileSystem API, so the same code runs on file:, hdfs:,
  abfs: — no driver-local ``os.path`` assumptions;
- batch dedup on the key is DETERMINISTIC (row_number over a stable
  content hash), because ``dropDuplicates`` keeps an arbitrary row and
  an ambiguous merge source must not resolve differently per run;
- no job runs just to count: the merge counts (updated, inserted,
  deduped) are observed on the write, next to the one per-bucket
  aggregation the merge needs to find its touched buckets;
- per-record fallback isolation is replaced by *pre-validation
  splitting* (SURVEY.md §7 hard-part 1): rows that would violate
  constraints split off before the write.

Atomicity: a new table, and every whole-table rewrite (growth, schema
evolution, the legacy flat layout), is written beside the table and
swapped in with its recorded count (:func:`~data_ingestors_spark.io.fs.swap_in`):
a crash leaves the old rows with the old count or the new rows with
the new one. A touched-bucket merge commits each bucket atomically but
not the set of buckets as a whole; a crash mid-commit can leave a mix
of old/new buckets. The per-table ingest lock (ingest/lock.py)
serializes writers, and the deterministic key-based merge makes a
re-run idempotent — the standard posture for plain-parquet tables.
With Delta/Iceberg jars on the classpath, swap the write for a real
``MERGE INTO`` commit; call shape is kept drop-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestors_spark.io.fs import (
    FS,
    delete,
    ls,
    path_exists,
    put_json,
    read_json,
    recover,
    rename,
    resolve,
    swap_in,
)

BUCKET_COL = "__bucket"
# the bucket count of a table written before counts were recorded, and
# the most buckets a new table starts with
DEFAULT_N_BUCKETS = 64
# the recorded count, inside the table; Spark's reader skips "_" names
BUCKETS_FILE = "_buckets.json"


def write_table(
    df: DataFrame, path: str, mode: str = "overwrite", partition_cols: list[str] | None = None
) -> None:
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table directory; the internal bucket column stays hidden
    from consumers."""
    df = spark.read.parquet(path)
    return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df


DUPS_COL = "__dups"
# run-time stamps (the ingest's created_at/updated_at): one value for a
# whole batch and another on every run, so the dedup orders by them only
# after the content hash
STAMP_COLS = ("created_at", "updated_at")


def _bucket_of(key: str, n_buckets: int):
    """The bucket a key hashes to: ``pmod(xxhash64(key), n_buckets)``."""
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets)).cast("int")


def bucket_count(on: SparkSession | FS, path: str, n_buckets: int | None = None) -> int:
    """The bucket count recorded with the bucketed table at ``path``
    (:data:`DEFAULT_N_BUCKETS` if it has none). A caller's
    ``n_buckets`` that differs raises ``ValueError``: a key hashed
    with another count names the wrong bucket."""
    recorded = read_json(
        on, f"{path.rstrip('/')}/{BUCKETS_FILE}", {"n_buckets": DEFAULT_N_BUCKETS}
    )["n_buckets"]
    if n_buckets is not None and n_buckets != recorded:
        raise ValueError(f"{path} has {recorded} buckets, not n_buckets={n_buckets}")
    return recorded


def _buckets_for(df: DataFrame, cap: int | None = None) -> int:
    """The smallest power of two of buckets that holds ``df`` (by its
    plan's size estimate) in buckets no larger than Spark's read split
    (``spark.sql.files.maxPartitionBytes``), at most ``cap``. A frame
    whose size Spark cannot estimate (an RDD, a Python list) gets
    ``cap``."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    split = df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    n = 1
    while n * split < size and (cap is None or n < cap):
        n *= 2
    return n


def _cluster_by_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Hash-repartition on the bucket column before a partitionBy
    write, into ``min(n_buckets, defaultParallelism)`` partitions. Each
    bucket lands in exactly one task, which writes one file per bucket
    it holds: one file per touched bucket per write, whatever the
    partition count. Without the clustering every task writes a file
    into every bucket directory it holds rows for — tasks × buckets
    files (a 150k-row batch into 64 buckets measured 640 files / 5.0 s
    unclustered, 64 files / 1.0 s clustered). Capping the partitions
    at the cores keeps a small batch from paying one task per bucket;
    with at least ``n_buckets`` cores the plan is one partition per
    bucket."""
    parts = min(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(parts, F.col(BUCKET_COL))


def _swap_table(fs: FS, path: str, rows: DataFrame, key: str, n_buckets: int) -> None:
    """Write ``rows`` as the whole table at ``path`` in ``n_buckets``
    buckets, with the count recorded beside them, and swap it in: the
    rows and their count appear together or not at all. ``rows`` may
    read the table it replaces."""
    rows = rows.withColumn(BUCKET_COL, _bucket_of(key, n_buckets))

    def write(tmp: str) -> None:
        _cluster_by_bucket(rows, n_buckets).write.mode("overwrite").partitionBy(
            BUCKET_COL
        ).parquet(tmp)
        put_json(fs, f"{tmp}/{BUCKETS_FILE}", {"n_buckets": n_buckets})

    swap_in(fs, path, write)


def _dedup_deterministic(batch: DataFrame, key: str) -> DataFrame:
    """Keep exactly one row per key, chosen by a stable hash of the
    row's content (every column but the run-time stamps) — same winner
    on every run/partitioning, unlike dropDuplicates.

    The kept row carries ``__dups`` = (group size − 1), computed in the
    SAME window pass (count over the identical partition spec adds no
    shuffle), so callers get the in-batch duplicate count for free from
    whatever aggregation they already run — no standalone
    count_distinct job over the key column (the round-3 ingest
    throughput regression)."""
    stamps = [c for c in STAMP_COLS if c in batch.columns]
    tiebreak = F.sha2(
        F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in batch.columns if c not in stamps]
        ),
        256,
    )
    w = Window.partitionBy(key).orderBy(tiebreak, *stamps)
    wg = Window.partitionBy(key)
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .withColumn(DUPS_COL, F.count("*").over(wg) - F.lit(1))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    key: str = "data_id",
    n_buckets: int | None = None,
    allow_evolution: bool = False,
) -> tuple[int, int, int]:
    """Incremental MERGE-equivalent upsert into a bucketed parquet
    table. WHEN MATCHED → the batch row wins; WHEN NOT MATCHED →
    insert. Returns (updated, inserted, deduped) where ``deduped`` is
    the number of in-batch rows collapsed by the deterministic key
    dedup. No job runs just to count: a fresh table's counts are
    observed on its write; a merge takes the batch size and ``deduped``
    from the per-bucket aggregation that also names the touched
    buckets, and ``updated`` from the rows observed on the current
    rows and on their kept rows during the write.

    ``n_buckets`` sets a new table's bucket count; ``None`` sizes it
    from the batch (see the module docstring). An existing table keeps
    its recorded count, and an ``n_buckets`` that differs from it
    raises ``ValueError``. An interrupted earlier swap of the table is
    repaired first, so a half-swapped table is never taken for absent.

    A merge reads and rewrites only the buckets the batch touches, in
    place (dynamic partition overwrite). It rewrites the WHOLE table,
    through :func:`~data_ingestors_spark.io.fs.swap_in`, when the batch
    touches every bucket and the table has outgrown its count (every
    row is re-hashed into the grown count), when the table has the
    legacy flat layout (pre-bucketing), and on schema evolution.

    Schema drift is an ERROR, never silent: a batch missing table
    columns, or carrying new ones without ``allow_evolution=True``,
    fails with the exact column lists (K2 drift semantics,
    database.py:272-297). With ``allow_evolution=True`` new columns
    are appended (existing rows read NULL) — the whole-table rewrite
    gives every parquet file the same schema, because a mixed-schema
    directory silently drops the new column on read unless every
    reader remembers mergeSchema."""
    fs = resolve(spark, target_path)
    recover(fs, target_path)
    deduped_batch = _dedup_deterministic(batch, key)

    if not path_exists(fs, target_path):
        n = n_buckets or _buckets_for(batch, cap=DEFAULT_N_BUCKETS)
        obs = Observation()
        observed = deduped_batch.observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum(DUPS_COL).alias("deduped")
        )
        _swap_table(fs, target_path, observed.drop(DUPS_COL), key, n)
        return (0, int(obs.get["n"]), int(obs.get["deduped"] or 0))

    current = spark.read.parquet(target_path)
    current_cols = [c for c in current.columns if c != BUCKET_COL]
    batch_cols = [c for c in deduped_batch.columns if c != DUPS_COL]
    missing = [c for c in current_cols if c not in batch_cols]
    extra = [c for c in batch_cols if c not in current_cols]
    if missing:
        raise ValueError(
            f"schema drift: batch is missing table columns {missing} "
            f"(table has {current_cols}). Upserts must carry every "
            "existing column — project NULLs explicitly if intended."
        )
    if extra and not allow_evolution:
        raise ValueError(
            f"schema drift: batch carries new columns {extra} not in the "
            f"table ({current_cols}). Pass allow_evolution=True to add "
            "them (existing rows read NULL)."
        )
    flat = BUCKET_COL not in current.columns
    if flat:
        n = n_buckets or _buckets_for(current, cap=DEFAULT_N_BUCKETS)
    else:
        n = bucket_count(fs, target_path, n_buckets)

    batch = deduped_batch.withColumn(BUCKET_COL, _bucket_of(key, n)).persist()
    try:
        per_bucket = batch.groupBy(BUCKET_COL).agg(
            F.count(F.lit(1)).alias("n"), F.sum(DUPS_COL).alias("deduped")
        ).collect()
        rows = sum(r["n"] for r in per_bucket)
        deduped = sum(r["deduped"] or 0 for r in per_bucket)
        touched = [r[BUCKET_COL] for r in per_bucket]

        grown = n
        if not flat and len(touched) == n:
            # the merge rewrites every bucket anyway: size the table to
            # its on-disk bytes (the listed files' total) first
            grown = max(n, _buckets_for(current))
        whole_table = flat or bool(extra) or grown != n
        for c in extra:
            current = current.withColumn(c, F.lit(None).cast(batch.schema[c].dataType))
        if not whole_table:
            current = current.filter(F.col(BUCKET_COL).isin(touched))

        # the batch is key-deduplicated, so every current row whose key
        # the batch carries is exactly one update: updated = rows read
        # − rows kept
        read_obs, keep_obs = Observation(), Observation()
        keep = (
            current.observe(read_obs, F.count(F.lit(1)).alias("n"))
            .join(batch.select(key), on=key, how="left_anti")
            .observe(keep_obs, F.count(F.lit(1)).alias("n"))
        )
        merged = keep.unionByName(batch.select(keep.columns))
        if whole_table:
            _swap_table(fs, target_path, merged, key, grown)
        else:
            # the dynamic overwrite stages its output before it replaces
            # the touched buckets, so the plan may read them; the
            # writer option scopes the mode to this write, so it is
            # thread-safe under the concurrent refresh folds
            _cluster_by_bucket(merged, n).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy(BUCKET_COL).parquet(target_path)
        updated = int(read_obs.get["n"]) - int(keep_obs.get["n"])
        return (updated, rows - updated, deduped)
    finally:
        batch.unpersist()


def purge_keys(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key: str = "data_id",
    n_buckets: int | None = None,
) -> int:
    """Right-to-be-forgotten delete: remove every row whose ``key``
    appears in ``keys`` from a bucketed table written by
    :func:`upsert`. Returns the number of rows deleted. The keys hash
    with the table's recorded count (:func:`bucket_count`; an
    ``n_buckets`` that differs raises).

    Same touched-buckets-only contract as upsert: the deletion key set
    hashes to its buckets, ONLY those bucket partitions are read,
    anti-joined, and dynamically overwritten — at 100 TB a purge of k
    users rewrites O(k) buckets, never the table. Keys absent from
    the table are a no-op (idempotent — a replayed purge deletes
    nothing and rewrites identical bucket contents).

    A bucket left EMPTY by the purge still rewrites (with an empty
    frame the dynamic overwrite would skip it, silently KEEPING the
    deleted rows — the one-row tombstone-free workaround is writing
    the empty partition explicitly via the kept-rows union, which
    always contains the bucket's surviving siblings or nothing; the
    empty case is handled by an explicit per-bucket delete).

    Crash-recovery contract: REPLAYING THE SAME PURGE CONVERGES.
    The multi-step rewrite is not atomic, but every interruption
    point is recoverable by re-running purge_keys with the same keys:

    - bucketed path: the dynamic partition overwrite commits per
      Spark job (a crash mid-write leaves only ``_temporary`` debris,
      target partitions unchanged); a crash BETWEEN the overwrite and
      the explicit empty-bucket deletes leaves fully-purged bucket
      dirs on disk — the replay recomputes the same ``emptied`` list
      and deletes them.
    - legacy flat path: the kept rows are written to a durable
      sibling temp dir FIRST, then swapped in (delete + rename) —
      never overwrite-in-place, so the keep-set can't be lost to an
      executor failure mid-overwrite. A crash between the delete and
      the rename leaves the table absent but the full keep-set at
      ``<target>__purge_tmp``; the next purge_keys call on that
      target finishes the swap automatically before proceeding."""
    tmp_swap = target_path.rstrip("/") + "__purge_tmp"
    if not path_exists(spark, target_path):
        # finish an interrupted legacy-path swap (crash after the
        # target delete, before the rename): the temp dir holds the
        # complete keep-set — promote it, then run this purge normally
        # (idempotent: its keys are already gone from the keep-set)
        if path_exists(spark, tmp_swap):
            rename(spark, tmp_swap, target_path)
        else:
            return 0
    all_current = spark.read.parquet(target_path)
    flat = BUCKET_COL not in all_current.columns
    n = DEFAULT_N_BUCKETS if flat else bucket_count(spark, target_path, n_buckets)
    keyset = (
        keys.select(F.col(key).cast("string").alias(key))
        .distinct()
        .withColumn(BUCKET_COL, _bucket_of(key, n))
        .persist()
    )
    try:
        touched = [r[BUCKET_COL] for r in keyset.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return 0
        if flat:
            # legacy flat layout (pre-bucketing, same as upsert's
            # upgrade path): full-table anti-join rewrite once —
            # written to a durable temp dir then swapped (see the
            # crash-recovery contract in the docstring), never
            # overwrite-in-place
            n_before = all_current.count()
            keep = all_current.join(
                keyset.select(F.col(key).alias("__purge_key")),
                all_current[key].cast("string") == F.col("__purge_key"),
                "left_anti",
            )
            keep.write.mode("overwrite").parquet(tmp_swap)
            n_after = spark.read.parquet(tmp_swap).count()
            delete(spark, target_path)
            rename(spark, tmp_swap, target_path)
            return n_before - n_after
        current = all_current.filter(F.col(BUCKET_COL).isin(touched))
        n_before = current.count()
        keep = current.join(
            keyset.select(F.col(key).alias("__purge_key")),
            current[key].cast("string") == F.col("__purge_key"),
            "left_anti",
        )
        keep = keep.localCheckpoint(eager=True)
        n_after = keep.count()
        # dynamic overwrite replaces only partitions PRESENT in `keep`;
        # a fully-purged bucket has no rows to carry its partition, so
        # delete those bucket directories explicitly
        kept_buckets = {r[BUCKET_COL] for r in keep.select(BUCKET_COL).distinct().collect()}
        emptied = [b for b in touched if b not in kept_buckets]
        if n_after:
            keep.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy(BUCKET_COL).parquet(target_path)
        for b in emptied:
            delete(spark, f"{target_path}/{BUCKET_COL}={b}")
        # if the purge emptied the LAST bucket of the whole table,
        # leave a schema-bearing empty parquet (flat layout — upsert's
        # legacy path re-buckets on next write) so readers don't hit
        # UNABLE_TO_INFER_SCHEMA on an all-deleted table
        has_buckets = any(
            name.startswith(f"{BUCKET_COL}=") for name, _, _ in ls(spark, target_path)
        )
        if not has_buckets:
            empty = spark.createDataFrame([], current.schema)
            empty.write.mode("overwrite").parquet(target_path)
        return n_before - n_after
    finally:
        keyset.unpersist()


def export_table(
    df: DataFrame,
    path: str,
    fmt: str = "csv",
    *,
    single_file: bool = False,
    compression: str | None = None,
    options: dict | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Export a result set for downstream consumers: csv (with
    header), json (NDJSON), parquet, or orc.

    ``single_file=True`` coalesces to one partition — convenient for
    small result sets handed to humans/tools, and deliberately NOT the
    default: at scale the parallel many-file layout is the correct
    output shape, and a forced coalesce(1) funnels the whole write
    through one task.

    ``partition_by`` shards the output into one directory per value
    (e.g. a corpus sharded by language) — readers then prune shards
    by directory, no scan of the rest.
    """
    if fmt not in ("csv", "json", "parquet", "orc"):
        raise ValueError(f"unsupported export format: {fmt}")
    if single_file and partition_by:
        raise ValueError("single_file and partition_by are mutually exclusive")
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if fmt == "csv":
        writer = writer.option("header", True)
    getattr(writer, fmt)(path)


def compact_table(spark: SparkSession, path: str, *, files_per_bucket: int = 1) -> dict[str, int]:
    """Small-file compaction for the bucketed upsert target. Every
    incremental upsert appends files to its touched buckets; after
    many batches a bucket holds dozens of tiny files and scan/task
    overhead dominates. Rewrites each bucket directory down to
    ``files_per_bucket`` files through
    :func:`~data_ingestors_spark.io.fs.swap_in`, so a bucket is never
    missing: a crash leaves its old or its new copy, and the swap
    siblings are hidden from readers until the next swap of that
    bucket or ``io.fs.recover_swaps`` over ``path`` repairs them. A
    rename or delete the filesystem reports as failed raises
    ``IOError``.

    Returns {"buckets": n_compacted, "files_before": .., "files_after": ..}.
    """
    if not path_exists(spark, path):
        raise FileNotFoundError(path)

    files_before = files_after = buckets = 0
    for name, is_dir, _ in ls(spark, path):
        if not (is_dir and name.startswith(f"{BUCKET_COL}=")):
            continue
        src = f"{path}/{name}"
        parts = [n for n, _, _ in ls(spark, src) if n.endswith(".parquet")]
        if len(parts) <= files_per_bucket:
            continue
        buckets += 1
        files_before += len(parts)
        writer = spark.read.parquet(src).coalesce(files_per_bucket).write.mode("overwrite")
        swap_in(spark, src, writer.parquet)
        files_after += files_per_bucket
    return {"buckets": buckets, "files_before": files_before, "files_after": files_after}


def table_stats(spark: SparkSession, path: str) -> dict:
    """Operational stats for a bucketed table: per-bucket file counts
    and bytes, plus totals — the numbers a compaction policy decides
    on (many small files per bucket -> run compact_table)."""
    if not path_exists(spark, path):
        raise FileNotFoundError(path)
    buckets: dict[str, dict] = {}
    total_files = total_bytes = 0
    for name, is_dir, _ in ls(spark, path):
        if not (is_dir and name.startswith(f"{BUCKET_COL}=")):
            continue
        files = [n for n in ls(spark, f"{path}/{name}") if n[0].endswith(".parquet")]
        nbytes = sum(size for _, _, size in files)
        buckets[name] = {"files": len(files), "bytes": nbytes}
        total_files += len(files)
        total_bytes += nbytes
    return {
        "buckets": buckets,
        "n_buckets": len(buckets),
        "total_files": total_files,
        "total_bytes": total_bytes,
        "avg_files_per_bucket": round(total_files / len(buckets), 2) if buckets else 0.0,
    }
