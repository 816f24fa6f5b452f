"""Sinks: hash-bucketed parquet table store with MERGE-style upsert.

The reference upserts batches into MySQL keyed on unique ``data_id``
(`INSERT ... ON DUPLICATE KEY UPDATE` — database.py:337-478) with
per-record fallback isolation. Spark-first equivalents:

- primary store: a parquet "table" directory **hash-bucketed on the
  key** (``__bucket = pmod(xxhash64(key), n_buckets)``). An upsert
  reads and rewrites ONLY the buckets the batch touches (dynamic
  partition overwrite) — a 1-row batch against a 100 TB table moves
  1/n_buckets of the data, not all of it;
- all filesystem probes, renames and deletes go through ``io/fs.py``
  on the Hadoop FileSystem API, so the same code runs on file:, hdfs:,
  s3a:, abfs: — no driver-local ``os.path`` assumptions;
- batch dedup on the key is DETERMINISTIC (row_number over a stable
  content hash), because ``dropDuplicates`` keeps an arbitrary row and
  an ambiguous merge source must not resolve differently per run;
- no job runs just to count: the merge counts (updated, inserted,
  deduped) are observed on the write or on the merge's lineage
  checkpoint, next to the one per-bucket aggregation the merge needs
  to find its touched buckets;
- per-record fallback isolation is replaced by *pre-validation
  splitting* (SURVEY.md §7 hard-part 1): rows that would violate
  constraints split off before the write.

Atomicity: dynamic partition overwrite swaps each bucket atomically
but not the set of buckets as a whole; a crash mid-write can leave a
mix of old/new buckets. The per-table ingest lock (ingest/lock.py)
serializes writers, and the deterministic key-based merge makes a
re-run idempotent — the standard posture for plain-parquet tables.
With Delta/Iceberg jars on the classpath, swap the write for a real
``MERGE INTO`` commit; call shape is kept drop-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestors_spark.io.fs import delete, ls, path_exists, rename, swap_in

BUCKET_COL = "__bucket"
DEFAULT_N_BUCKETS = 64


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


def _bucket_of(key: str, n_buckets: int):
    """The bucket a key hashes to: ``pmod(xxhash64(key), n_buckets)``."""
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets)).cast("int")


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


def _dedup_deterministic(batch: DataFrame, key: str) -> DataFrame:
    """Keep exactly one row per key, chosen by a stable content hash —
    same winner on every run/partitioning, unlike dropDuplicates.

    The kept row carries ``__dups`` = (group size − 1), computed in the
    SAME window pass (count over the identical partition spec adds no
    shuffle), so callers get the in-batch duplicate count for free from
    whatever aggregation they already run — no standalone
    count_distinct job over the key column (the round-3 ingest
    throughput regression)."""
    tiebreak = F.sha2(
        F.concat_ws("\x1f", *[F.col(c).cast("string") for c in batch.columns]), 256
    )
    w = Window.partitionBy(key).orderBy(tiebreak)
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
    n_buckets: int = DEFAULT_N_BUCKETS,
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
    buckets and on their kept rows during the lineage checkpoint. Only
    the hash buckets present in the batch are read, merged, and
    rewritten.

    Schema drift is an ERROR, never silent: a batch missing table
    columns, or carrying new ones without ``allow_evolution=True``,
    fails with the exact column lists (K2 drift semantics,
    database.py:272-297). With ``allow_evolution=True`` new columns
    are appended (existing rows read NULL) — this rewrites the WHOLE
    table once so every parquet file carries the same schema, because
    a mixed-schema directory silently drops the new column on read
    unless every reader remembers mergeSchema."""
    batch = _dedup_deterministic(batch, key).withColumn(BUCKET_COL, _bucket_of(key, n_buckets))

    if not path_exists(spark, target_path):
        obs = Observation()
        observed = batch.observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum(DUPS_COL).alias("deduped")
        )
        write_table(
            _cluster_by_bucket(observed.drop(DUPS_COL), n_buckets),
            target_path, "overwrite", [BUCKET_COL],
        )
        return (0, int(obs.get["n"]), int(obs.get["deduped"] or 0))

    batch = batch.persist()
    try:
        current = spark.read.parquet(target_path)

        current_cols = [c for c in current.columns if c != BUCKET_COL]
        batch_cols = [c for c in batch.columns if c not in (BUCKET_COL, DUPS_COL)]
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

        per_bucket = batch.groupBy(BUCKET_COL).agg(
            F.count(F.lit(1)).alias("n"), F.sum(DUPS_COL).alias("deduped")
        ).collect()
        n = sum(r["n"] for r in per_bucket)
        deduped = sum(r["deduped"] or 0 for r in per_bucket)

        # Evolution and the legacy flat layout (pre-bucketing) rewrite
        # the WHOLE table once, so the on-disk schema and layout are
        # uniform; otherwise only the touched buckets are read.
        whole_table = bool(extra) or BUCKET_COL not in current.columns
        for c in extra:
            current = current.withColumn(c, F.lit(None).cast(batch.schema[c].dataType))
        if BUCKET_COL not in current.columns:
            current = current.withColumn(BUCKET_COL, _bucket_of(key, n_buckets))
        if not whole_table:
            current = current.filter(F.col(BUCKET_COL).isin([r[BUCKET_COL] for r in per_bucket]))

        # the batch is key-deduplicated, so every current row whose key
        # the batch carries is exactly one update: updated = rows read
        # − rows kept
        read_obs, keep_obs = Observation(), Observation()
        keep = (
            current.observe(read_obs, F.count(F.lit(1)).alias("n"))
            .join(batch.select(key), on=key, how="left_anti")
            .observe(keep_obs, F.count(F.lit(1)).alias("n"))
        )
        merged = _cluster_by_bucket(keep.unionByName(batch.select(keep.columns)), n_buckets)

        # Truncate lineage before overwriting the path we just read —
        # Spark (correctly) refuses an overwrite whose plan still scans
        # the target. A transactional format (Delta MERGE) removes the
        # need.
        merged = merged.localCheckpoint(eager=True)
        updated = int(read_obs.get["n"]) - int(keep_obs.get["n"])

        # A whole-table rewrite forces a STATIC overwrite so an ambient
        # dynamic mode (e.g. a caller running refresh folds
        # concurrently) cannot leave the pre-upgrade files alongside
        # the new __bucket=* dirs — reads would then return duplicated
        # rows (ADVICE r12, medium). Otherwise a dynamic overwrite
        # replaces only partitions present in `merged` (exactly the
        # touched buckets). The writer option takes precedence over the
        # session conf and is scoped to this write only, so it is
        # thread-safe under the concurrent refresh folds.
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "static" if whole_table else "dynamic"
        ).partitionBy(BUCKET_COL).parquet(target_path)
        return (updated, n - updated, deduped)
    finally:
        batch.unpersist()


def purge_keys(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key: str = "data_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> int:
    """Right-to-be-forgotten delete: remove every row whose ``key``
    appears in ``keys`` from a bucketed table written by
    :func:`upsert`. Returns the number of rows deleted.

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
    keyset = (
        keys.select(F.col(key).cast("string").alias(key))
        .distinct()
        .withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"),
        )
        .persist()
    )
    try:
        touched = [r[BUCKET_COL] for r in keyset.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return 0
        all_current = spark.read.parquet(target_path)
        if BUCKET_COL not in all_current.columns:
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
