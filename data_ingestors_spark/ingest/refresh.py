"""End-to-end incremental corpus refresh — the 100 TB operating loop.

One call per landed batch wires together the pieces that otherwise
ship separately: preflight novelty report → bucketed upsert into the
corpus → incremental near-dup monitor advance → periodic index/layout
compaction. Nothing in the loop ever rescans the corpus:

1. **Preflight + fingerprint index** —
   :func:`~data_ingestors_spark.streaming.neardup.incremental_dedup_fold_batch`:
   per-source exact-dup/novelty report against everything seen in
   PRIOR batches, probing only the batch's touched hash buckets
   (two-level ``__batch``/``__bucket`` partition pruning); report and
   fingerprint rows land in ``__batch``-keyed partitions, so the step
   is exactly-once under replay.
2. **Upsert** — :func:`~data_ingestors_spark.io.writers.upsert` into
   the hash-bucketed corpus table: only touched buckets are read,
   merged, and rewritten (O(|batch|) I/O at any corpus size).
3. **Near-dup monitor** —
   :func:`~data_ingestors_spark.streaming.neardup.neardup_fold_batch`:
   MinHash-LSH candidates of batch-vs-(index ∪ batch), exact-Jaccard
   verified; emitted pairs and index rows are ``__batch``-keyed
   (exactly-once; cumulative pairs equal the batch operator over the
   union of all batches — asserted in tests/test_e2e_categories.py).
4. **Ledger** — ``ledger.json`` records the batch path LAST, after
   every fold landed. Steps 1-3 (and the optional embedding fold) run
   CONCURRENTLY from a driver thread pool (r12-opt, guide §2.6): they
   touch disjoint store paths and each is idempotent by batch id, so
   overlap changes wall-clock only — the ledger still gates on all of
   them. A crash anywhere earlier means the batch is not
   in the ledger and the whole loop re-runs with the SAME batch id —
   every step overwrites its own partitions with identical content. A
   batch already in the ledger is a REPLAY: the loop mutates nothing
   and returns the stored report (this also keeps replays safe after
   compaction has folded the batch's partitions away).
5. **Compaction** — every ``compact_every`` fresh batches:
   :func:`~data_ingestors_spark.streaming.neardup.compact_neardup_index`
   folds the monitor's per-batch partitions into one ``__batch=-1``
   layer (:func:`~data_ingestors_spark.streaming.batches.compact_batches`)
   and :func:`~data_ingestors_spark.io.writers.compact_table`
   bin-packs the corpus buckets — partition/file counts stay bounded
   as the store ages instead of growing one layer per batch.
   Compaction runs AFTER the ledger write (the folds' exactly-once
   story must not depend on it), so it carries its own crash
   discipline: every rewrite (index layers, corpus buckets, the
   ledger and ``compact_marker.json`` themselves) is one
   :func:`~data_ingestors_spark.io.fs.swap_in`, sibling write plus
   rename (:func:`~data_ingestors_spark.io.fs.recover_swaps` repairs
   half-swapped states at every loop entry), and the marker records
   ``compacted_through`` — a crash mid-compaction leaves the marker
   behind, and the NEXT refresh detects the overdue cycle and re-runs
   it instead of waiting a full ``compact_every`` period.

Store layout (all under one ``store_dir``)::

    corpus/            hash-bucketed document table (upsert target)
    dedup_index/fps/   fingerprint index, __batch/__bucket partitions
    reports/           per-batch per-source novelty reports
    neardup/index/     MinHash band + shingle index, __batch keyed
    neardup/pairs/     verified near-dup pairs, __batch keyed
    ledger.json        ordered list of ingested batch paths
    compact_marker.json  highest batch id compaction has folded through

Store requirement: ``store_dir`` and the batch paths may be any Hadoop
FileSystem path or URI (a local path, ``file://``, ``hdfs://``, ...):
every probe, rename and small-file write goes through
``io/fs.py``. The swaps need an atomic rename, so an object store
whose rename is a copy (S3A) is out of scope, and so are the
per-table ingest lock (``ingest/lock.py``, local ``O_EXCL``) and the
sidecar file transfer, which stay driver-local.

CLI: ``python -m data_ingestors_spark.cli refresh <store_dir>
<batch_parquet>`` prints the returned summary as one JSON line.

Reference parity: this is the Spark-native form of the reference's
ingest-then-validate loop (run.py + database upsert); the monitors
and compaction have no reference counterpart — they are the
LLM-pipeline extension the 100 TB design calls for.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from data_ingestors_spark.io import fs
from data_ingestors_spark.operators.layout import spread


def _paths(store_dir: str) -> dict[str, str]:
    return {
        "corpus": os.path.join(store_dir, "corpus"),
        "dedup_index": os.path.join(store_dir, "dedup_index"),
        "reports": os.path.join(store_dir, "reports"),
        "nd_index": os.path.join(store_dir, "neardup", "index"),
        "nd_pairs": os.path.join(store_dir, "neardup", "pairs"),
        "emb_index": os.path.join(store_dir, "neardup_emb", "index"),
        "emb_pairs": os.path.join(store_dir, "neardup_emb", "pairs"),
        "ledger": os.path.join(store_dir, "ledger.json"),
        "compact_marker": os.path.join(store_dir, "compact_marker.json"),
    }


def read_refresh_report(spark: SparkSession, store_dir: str, batch_id: int) -> DataFrame:
    """One batch's stored per-source novelty report."""
    from pyspark.sql import functions as F

    from data_ingestors_spark.streaming.batches import BATCH_PART_COL

    return (
        spark.read.parquet(_paths(store_dir)["reports"])
        .filter(F.col(BATCH_PART_COL) == int(batch_id))
        .drop(BATCH_PART_COL)
    )


def refresh_corpus(
    spark: SparkSession,
    store_dir: str,
    batch_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    compact_every: int = 8,
    neardup_threshold: float = 0.7,
    embedding_batch_path: str | None = None,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    embedding_threshold: float = 0.9,
) -> dict:
    """Run the refresh loop for one landed batch; returns a summary
    dict (batch_id, replay flag, upsert counts, per-source report
    rows, whether compaction ran). See the module docstring for the
    step-by-step contract.

    ``embedding_batch_path`` (optional): the batch's embedding table,
    folded into the hyperplane-LSH embedding near-dup monitor
    (``neardup_emb/``) under the same batch id — the third
    incremental-dedup modality, with the same exactly-once and
    compaction discipline."""
    from data_ingestors_spark.io.writers import upsert
    from data_ingestors_spark.streaming.neardup import (
        compact_embedding_neardup_index,
        compact_neardup_index,
        embedding_neardup_fold_batch,
        incremental_dedup_fold_batch,
        neardup_fold_batch,
    )

    p = _paths(store_dir)
    # repair a ledger/marker or compaction swap a previous run crashed
    # in the middle of, BEFORE anything reads the store
    for d in (store_dir, p["corpus"], p["nd_index"], p["emb_index"]):
        fs.recover_swaps(spark, d)
    ledger = fs.read_json(spark, p["ledger"], {"batches": []})["batches"]
    # a path without a scheme is made absolute, as ledgers have always
    # recorded it; a URI is kept as given
    if not urlparse(batch_path).scheme:
        batch_path = os.path.abspath(batch_path)
    replay = batch_path in ledger
    batch_id = ledger.index(batch_path) if replay else len(ledger)

    summary: dict = {"batch_id": batch_id, "replay": replay, "compacted": False}
    if replay:
        # every fold already landed (ledger is written last); mutating
        # again would double rows the compactor has since folded into
        # the __batch=-1 layer. Return the stored report, with an
        # explicit null for the upsert counts the docstring promises
        # (they were consumed by the original run).
        summary["upsert"] = None
        summary["report"] = [
            r.asDict() for r in read_refresh_report(spark, store_dir, batch_id).collect()
        ]
        return summary

    # One scan+spread of the landed batch, shared by every fold below
    # (unpersisted each step re-read and re-shuffled it).
    batch = spread(spark.read.parquet(batch_path)).persist()
    if not fs.path_exists(spark, p["corpus"]) and batch.isEmpty():
        # an empty batch folded into a fresh store leaves schema-less
        # dirs the next batch cannot read; ledger it without folding,
        # since batch ids are ledger positions
        batch.unpersist()
        fs.write_json(spark, p["ledger"], {"batches": ledger + [batch_path]})
        summary["upsert"] = {"updated": 0, "inserted": 0, "deduped": 0}
        summary["report"] = []
        return summary

    # Steps 1-3 (and the optional embedding fold) are INDEPENDENT: they
    # read/write disjoint store paths (dedup_index+reports / corpus /
    # neardup / neardup_emb), each is idempotent by batch id, and the
    # ledger is only written after ALL of them land — so running them
    # concurrently from a small driver thread pool (guide §2.6: actions
    # are only sequential because the driver calls them sequentially)
    # preserves the crash contract exactly while each fold's straggler
    # tail back-fills the others' tasks. A crash or failure in ANY fold
    # leaves the batch un-ledgered and the whole loop re-runs, same as
    # the serial form. Overwrite-mode isolation (r13, ADVICE r12): every
    # partition-keyed write inside the folds carries its own per-write
    # option("partitionOverwriteMode", ...), which takes precedence over
    # the session conf — no session-level mutation happens here or in
    # any fold, so concurrent folds cannot race on it.
    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            # 1. preflight novelty report + fingerprint index advance
            f_dedup = pool.submit(
                incremental_dedup_fold_batch,
                spark, batch, batch_id, p["dedup_index"], p["reports"],
                text_col=text_col, id_col=id_col, source_col=source_col,
            )
            # 2. corpus upsert (touched buckets only)
            f_upsert = pool.submit(upsert, spark, p["corpus"], batch, key=id_col)
            # 3. near-dup monitor advance
            f_neardup = pool.submit(
                neardup_fold_batch,
                spark, batch, batch_id, p["nd_index"], p["nd_pairs"],
                text_col=text_col, id_col=id_col, threshold=neardup_threshold,
            )
            f_emb = None
            if embedding_batch_path is not None:
                f_emb = pool.submit(
                    embedding_neardup_fold_batch,
                    spark,
                    spread(spark.read.parquet(embedding_batch_path)),
                    batch_id, p["emb_index"], p["emb_pairs"],
                    id_col=vec_id_col, vec_col=vec_col,
                    threshold=embedding_threshold,
                )
            f_dedup.result()
            updated, inserted, deduped = f_upsert.result()
            summary["upsert"] = {
                "updated": updated, "inserted": inserted, "deduped": deduped,
            }
            f_neardup.result()
            if f_emb is not None:
                f_emb.result()
    finally:
        batch.unpersist()
    # 4. ledger last — everything above is idempotent by batch id
    fs.write_json(spark, p["ledger"], {"batches": ledger + [batch_path]})
    # 5. bounded-layer maintenance — due on this batch, OR overdue
    # because a previous cycle's compaction crashed after its batch
    # was ledgered (the marker lags the expected cycle boundary).
    # The swaps themselves are crash-safe (recover_swaps repairs them);
    # the marker guarantees an interrupted cycle re-runs on the NEXT
    # refresh instead of waiting a full compact_every period.
    if compact_every:
        # highest batch id any completed cycle should have folded
        # through by now (covers both "due on this batch" and
        # "overdue from a crashed earlier cycle")
        expected_through = ((batch_id + 1) // compact_every) * compact_every - 1
        marker = fs.read_json(spark, p["compact_marker"], {"compacted_through": -1})
        if 0 <= expected_through and marker["compacted_through"] < expected_through:
            from data_ingestors_spark.io.writers import compact_table

            compact_neardup_index(spark, p["nd_index"])
            if fs.path_exists(spark, p["emb_index"]):
                compact_embedding_neardup_index(spark, p["emb_index"])
            summary["compact_stats"] = compact_table(spark, p["corpus"])
            summary["compacted"] = True
            fs.write_json(spark, p["compact_marker"], {"compacted_through": batch_id})

    summary["report"] = [
        r.asDict() for r in read_refresh_report(spark, store_dir, batch_id).collect()
    ]
    return summary
