"""End-to-end incremental corpus refresh loop
(ingest/refresh.py refresh_corpus): batch lands → preflight report →
upsert → near-dup monitor advance → compaction; run twice, assert
idempotence and monitor cumulative-equals-batch."""

from __future__ import annotations

import json
import os

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _write_batch(spark, tmp_path, name, rows):
    path = str(tmp_path / name)
    _docs(spark, rows).coalesce(1).write.parquet(path)
    return path


LOREM = (
    "the quick brown fox jumps over the lazy dog while seventy "
    "translators argue about tokenization and shingles"
)
LOREM_NEAR = LOREM + " extra tail clause"  # near-dup of LOREM
OTHER = (
    "completely different second document about spark shuffles "
    "broadcast joins and adaptive query execution at scale"
)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Two fresh batches + one replay through the loop; compaction
    configured to fire on the second batch."""
    from data_ingestors_spark.ingest.refresh import refresh_corpus

    tmp = tmp_path_factory.mktemp("refresh")
    b1 = _write_batch(
        spark, tmp, "batch1",
        [
            (1, "web", LOREM),
            (2, "web", LOREM),            # in-batch exact dup of 1
            (3, "web", OTHER),
            (4, "books", LOREM_NEAR),     # near-dup of 1 (not exact)
        ],
    )
    b2 = _write_batch(
        spark, tmp, "batch2",
        [
            (5, "web", LOREM),            # exact dup of indexed corpus
            (6, "books", OTHER + " appended"),  # near-dup of 3
            (7, "books", "a third topic entirely unrelated to both"),
        ],
    )
    store_dir = str(tmp / "store")
    r1 = refresh_corpus(spark, store_dir, b1, compact_every=2)
    r2 = refresh_corpus(spark, store_dir, b2, compact_every=2)
    r2_replay = refresh_corpus(spark, store_dir, b2, compact_every=2)
    return {
        "dir": store_dir, "b1": b1, "b2": b2,
        "r1": r1, "r2": r2, "r2_replay": r2_replay,
    }


def test_refresh_preflight_reports(store):
    """Batch 1 sees an empty corpus (no corpus dups, one in-batch
    dup); batch 2's exact repeat of LOREM counts as a corpus dup."""
    r1 = {row["source"]: row for row in store["r1"]["report"]}
    assert store["r1"]["batch_id"] == 0 and not store["r1"]["replay"]
    assert r1["web"]["n_dup_corpus"] == 0
    assert r1["web"]["n_docs"] == 3 and r1["web"]["n_novel"] == 2
    assert r1["web"]["n_dup_batch"] == 1  # doc 2
    r2 = {row["source"]: row for row in store["r2"]["report"]}
    assert r2["web"]["n_dup_corpus"] == 1  # doc 5 = indexed LOREM
    assert r2["books"]["n_dup_corpus"] == 0 and r2["books"]["n_novel"] == 2


def test_refresh_upsert_and_corpus_state(spark, store):
    """Corpus equals the union keyed by doc_id; upsert counters track
    inserts per batch."""
    assert store["r1"]["upsert"] == {"updated": 0, "inserted": 4, "deduped": 0}
    assert store["r2"]["upsert"] == {"updated": 0, "inserted": 3, "deduped": 0}
    corpus = spark.read.parquet(os.path.join(store["dir"], "corpus"))
    assert corpus.count() == 7
    assert corpus.select("doc_id").distinct().count() == 7


def test_refresh_monitor_cumulative_equals_batch(spark, store):
    """The monitor's cumulative verified pairs equal the batch LSH
    operator run once over the union of both batches — including
    pairs that span the two batches."""
    from data_ingestors_spark.operators.dedup import minhash_near_duplicates
    from data_ingestors_spark.streaming.batches import BATCH_PART_COL

    union = spark.read.parquet(store["b1"]).unionByName(
        spark.read.parquet(store["b2"])
    )
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_near_duplicates(union, "text", "doc_id").collect()
    }
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in spark.read.parquet(
            os.path.join(store["dir"], "neardup", "pairs")
        ).drop(BATCH_PART_COL).collect()
    }
    assert want == got and want  # non-trivial: the dup families above collide
    # at least one pair must span the two batches
    assert any(a <= 4 and b >= 5 for a, b, _ in got)


def test_refresh_replay_is_idempotent(spark, store):
    """Re-running a ledgered batch mutates nothing: same report, same
    corpus, same cumulative pairs, replay flagged."""
    assert store["r2_replay"]["replay"] is True
    assert store["r2_replay"]["batch_id"] == store["r2"]["batch_id"]
    assert sorted(
        (row["source"], row["n_docs"]) for row in store["r2_replay"]["report"]
    ) == sorted((row["source"], row["n_docs"]) for row in store["r2"]["report"])
    corpus = spark.read.parquet(os.path.join(store["dir"], "corpus"))
    assert corpus.count() == 7
    pairs = spark.read.parquet(os.path.join(store["dir"], "neardup", "pairs"))
    assert pairs.count() == pairs.dropDuplicates(["id_a", "id_b"]).count()
    with open(os.path.join(store["dir"], "ledger.json")) as fh:
        assert len(json.load(fh)["batches"]) == 2


def test_refresh_compaction_ran_and_bounded_layers(spark, store):
    """compact_every=2 fired on batch 2: the near-dup index is folded
    to the single __batch=-1 layer (bounded partition count) and the
    monitor comparison above still held AFTER compaction."""
    from data_ingestors_spark.streaming.batches import BATCH_PART_COL

    assert store["r2"]["compacted"] is True and "compact_stats" in store["r2"]
    bands = spark.read.parquet(
        os.path.join(store["dir"], "neardup", "index", "bands")
    )
    layers = [r[0] for r in bands.select(BATCH_PART_COL).distinct().collect()]
    assert layers == [-1]


def test_refresh_store_on_file_uri(spark, tmp_path):
    """The ``store`` scenario with a ``file:///`` store and ``file://``
    batch paths: the ledger and the marker land inside the store, the
    ledger keeps the URIs as given, and the replay is recognised."""
    from data_ingestors_spark.ingest.refresh import refresh_corpus

    b1 = _write_batch(
        spark, tmp_path, "ub1",
        [(1, "web", LOREM), (2, "web", LOREM), (3, "web", OTHER), (4, "books", LOREM_NEAR)],
    )
    b2 = _write_batch(
        spark, tmp_path, "ub2",
        [(5, "web", LOREM), (6, "books", OTHER + " appended"),
         (7, "books", "a third topic entirely unrelated to both")],
    )
    store_dir = str(tmp_path / "store")
    uri1, uri2 = f"file://{b1}", f"file://{b2}"
    r1 = refresh_corpus(spark, f"file://{store_dir}", uri1, compact_every=2)
    r2 = refresh_corpus(spark, f"file://{store_dir}", uri2, compact_every=2)
    replay = refresh_corpus(spark, f"file://{store_dir}", uri2, compact_every=2)

    assert (r1["batch_id"], r2["batch_id"], replay["batch_id"]) == (0, 1, 1)
    assert r2["compacted"] is True and replay["replay"] is True
    assert r2["upsert"] == {"updated": 0, "inserted": 3, "deduped": 0}
    with open(os.path.join(store_dir, "ledger.json")) as fh:
        assert json.load(fh)["batches"] == [uri1, uri2]
    with open(os.path.join(store_dir, "compact_marker.json")) as fh:
        assert json.load(fh)["compacted_through"] == 1
    assert spark.read.parquet(os.path.join(store_dir, "corpus")).count() == 7


def test_refresh_cli_subcommand(spark, store, tmp_path, capsys):
    """`cli refresh <store> <batch>` runs the loop and prints one JSON
    summary line."""
    from data_ingestors_spark.cli.frontend import main

    b3 = _write_batch(
        spark, tmp_path, "batch3", [(8, "web", "yet another novel doc")]
    )
    rc = main(["refresh", store["dir"], b3])
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert rc == 0
    summary = json.loads(out)
    assert summary["batch_id"] == 2 and summary["replay"] is False
    assert summary["upsert"]["inserted"] == 1


def test_refresh_embedding_monitor(spark, tmp_path):
    """Optional embedding batches advance the hyperplane-LSH embedding
    near-dup monitor under the same batch ids: cumulative pairs equal
    the batch operator over the union, and compaction folds the
    sketch index to one layer."""
    import numpy as np

    from data_ingestors_spark.ingest.refresh import refresh_corpus
    from data_ingestors_spark.operators.similarity import blocked_cosine_pairs
    from data_ingestors_spark.streaming.batches import BATCH_PART_COL

    rng = np.random.RandomState(97)
    base = rng.randn(6, 16)
    base /= np.linalg.norm(base, axis=1, keepdims=True)

    def vec_rows(ids, vecs):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
            "vec_id long, embedding array<double>",
        )

    # batch 2 vector 10 is a near-dup of batch 1 vector 0
    near = base[0] + 0.01 * rng.randn(16)
    near /= np.linalg.norm(near)
    e1 = str(tmp_path / "emb1")
    e2 = str(tmp_path / "emb2")
    vec_rows(range(6), base).coalesce(1).write.parquet(e1)
    vec_rows([10, 11], [near, base[3] * -1]).coalesce(1).write.parquet(e2)

    b1 = _write_batch(spark, tmp_path, "db1", [(1, "web", LOREM)])
    b2 = _write_batch(spark, tmp_path, "db2", [(2, "web", OTHER)])
    store_dir = str(tmp_path / "store")
    refresh_corpus(spark, store_dir, b1, compact_every=2, embedding_batch_path=e1)
    r2 = refresh_corpus(spark, store_dir, b2, compact_every=2, embedding_batch_path=e2)
    assert r2["compacted"] is True

    pairs_dir = os.path.join(store_dir, "neardup_emb", "pairs")
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs_dir).drop(BATCH_PART_COL).collect()
    }
    union = spark.read.parquet(e1).unionByName(spark.read.parquet(e2))
    want = {
        (r["id_a"], r["id_b"])
        for r in blocked_cosine_pairs(
            union, id_col="vec_id", vec_col="embedding",
            threshold=0.9, dim=16
        ).collect()
    }
    assert got == want and (0, 10) in got
    # compaction folded the sketch index to the -1 layer
    sk = spark.read.parquet(os.path.join(store_dir, "neardup_emb", "index", "sketches"))
    assert [r[0] for r in sk.select(BATCH_PART_COL).distinct().collect()] == [-1]


# --- r12: compaction crash-safety (ADVICE r12 #1) ------------------------


def test_recover_compaction_state_machine(spark, tmp_path):
    """Every interrupted-swap state terminates with a complete live
    copy: live-missing+old → restore old; live+old → drop old;
    live+tmp → drop tmp. Pure directory mechanics, no Spark job."""
    import shutil

    from data_ingestors_spark.io.fs import recover_swaps, swap_paths

    def mk(path, tag):
        d = tmp_path / path
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_text(tag)
        return d

    idx = tmp_path / "index"
    tmp, old = (os.path.relpath(p, tmp_path) for p in swap_paths(str(idx / "bands")))
    # state A: crashed between the two renames (live gone, old+tmp left)
    mk(old, "original")
    mk(tmp, "folded")
    recover_swaps(spark, str(idx))
    assert (idx / "bands" / "part-0.parquet").read_text() == "original"
    assert not (tmp_path / old).exists()
    assert not (tmp_path / tmp).exists()

    # state B: crashed after the swap, before old was removed
    shutil.rmtree(idx)
    mk("index/bands", "folded")
    mk(old, "original")
    recover_swaps(spark, str(idx))
    assert (idx / "bands" / "part-0.parquet").read_text() == "folded"
    assert not (tmp_path / old).exists()

    # state C: crashed mid-tmp-write, before any rename
    shutil.rmtree(idx)
    mk("index/bands", "original")
    mk(tmp, "partial")
    recover_swaps(spark, str(idx))
    assert (idx / "bands" / "part-0.parquet").read_text() == "original"
    assert not (tmp_path / tmp).exists()

    # no-op on a healthy or absent index
    recover_swaps(spark, str(idx))
    recover_swaps(spark, str(tmp_path / "absent"))
    assert (idx / "bands" / "part-0.parquet").read_text() == "original"


def test_compact_table_raises_when_swap_rename_fails(spark, tmp_path, monkeypatch):
    """Hadoop FileSystem reports a failed rename by returning False;
    compact_table must raise instead of reporting success with the
    bucket directory already deleted."""
    from data_ingestors_spark.io import fs, writers

    table = str(tmp_path / "table")
    spark.range(30).repartition(3).write.parquet(f"{table}/__bucket=0")

    real_hadoop_fs = fs.hadoop_fs

    class RenameFails:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            return False

    def failing_fs(spark, path):
        jfs, jpath = real_hadoop_fs(spark, path)
        return RenameFails(jfs), jpath

    monkeypatch.setattr(fs, "hadoop_fs", failing_fs)
    with pytest.raises(IOError, match="rename"):
        writers.compact_table(spark, table)


def test_compact_table_keeps_every_row_through_a_crash_mid_swap(spark, tmp_path, monkeypatch):
    """A crash between the bucket swap's two renames hides the bucket
    (its old copy is a hidden sibling) but loses nothing: recovery
    restores it, and the next compaction folds it."""
    from data_ingestors_spark.io import fs, writers

    table = str(tmp_path / "table")
    bucket = f"{table}/__bucket=0"
    spark.range(30).repartition(3).write.parquet(bucket)

    real_rename = fs.rename

    def crash_into_bucket(spark, src, dst):
        if dst == bucket:
            raise OSError("simulated crash before the compacted bucket is swapped in")
        real_rename(spark, src, dst)

    monkeypatch.setattr(fs, "rename", crash_into_bucket)
    with pytest.raises(OSError):
        writers.compact_table(spark, table)
    monkeypatch.setattr(fs, "rename", real_rename)
    assert not os.path.exists(bucket)

    fs.recover_swaps(spark, table)
    assert sorted(r.id for r in writers.read_table(spark, table).collect()) == list(range(30))
    assert writers.compact_table(spark, table)["buckets"] == 1
    assert sorted(r.id for r in writers.read_table(spark, table).collect()) == list(range(30))
    assert sorted(os.listdir(table)) == ["__bucket=0"]


def test_refresh_compaction_overdue_catchup(spark, tmp_path):
    """A compaction cycle that never completed (crash after the ledger
    write) re-runs on the NEXT refresh via the compacted_through
    marker, instead of waiting a full compact_every period."""
    import json as _json

    from data_ingestors_spark.ingest.refresh import refresh_corpus
    from data_ingestors_spark.streaming.batches import BATCH_PART_COL

    store_dir = str(tmp_path / "store")
    # batches 0 and 1 with compaction disabled == "ledgered but the
    # due compaction (cycle end at batch 1) never completed"
    for i, txt in enumerate([LOREM, OTHER]):
        b = _write_batch(spark, tmp_path, f"cb{i}", [(i + 1, "web", txt)])
        r = refresh_corpus(spark, store_dir, b, compact_every=0)
        assert r["compacted"] is False
    assert not os.path.exists(os.path.join(store_dir, "compact_marker.json"))

    # batch 2 with compact_every=2: (2+1) % 2 != 0, but the marker
    # lags the expected cycle boundary (through batch 1) -> catch-up
    b2 = _write_batch(spark, tmp_path, "cb2", [(3, "web", "third doc entirely")])
    r2 = refresh_corpus(spark, store_dir, b2, compact_every=2)
    assert r2["compacted"] is True
    with open(os.path.join(store_dir, "compact_marker.json")) as fh:
        assert _json.load(fh)["compacted_through"] == 2
    bands = spark.read.parquet(
        os.path.join(store_dir, "neardup", "index", "bands")
    )
    assert [r[0] for r in bands.select(BATCH_PART_COL).distinct().collect()] == [-1]

    # batch 3 (id 3): due cycle through batch 3 > marker 2 -> compacts;
    # batch 4 (id 4): expected through 3 == marker -> skipped
    b3 = _write_batch(spark, tmp_path, "cb3", [(4, "web", "fourth doc")])
    assert refresh_corpus(spark, store_dir, b3, compact_every=2)["compacted"] is True
    b4 = _write_batch(spark, tmp_path, "cb4", [(5, "web", "fifth doc")])
    assert refresh_corpus(spark, store_dir, b4, compact_every=2)["compacted"] is False


def test_refresh_repairs_halfswapped_index_at_entry(spark, tmp_path):
    """A half-swapped compaction (live dir missing, __precompact left)
    is repaired at the next refresh entry BEFORE the folds read the
    index — the monitor's cumulative-equals-batch property survives
    the simulated crash."""
    import os as _os

    from data_ingestors_spark.ingest.refresh import refresh_corpus
    from data_ingestors_spark.io.fs import swap_paths
    from data_ingestors_spark.operators.dedup import minhash_near_duplicates
    from data_ingestors_spark.streaming.batches import BATCH_PART_COL

    store_dir = str(tmp_path / "store")
    b0 = _write_batch(
        spark, tmp_path, "hb0", [(1, "web", LOREM), (2, "web", OTHER)]
    )
    refresh_corpus(spark, store_dir, b0, compact_every=0)
    bands = _os.path.join(store_dir, "neardup", "index", "bands")
    _, old = swap_paths(bands)
    # simulate the crash window between the two swap renames
    _os.rename(bands, old)
    assert not _os.path.isdir(bands)

    b1 = _write_batch(spark, tmp_path, "hb1", [(3, "web", LOREM_NEAR)])
    refresh_corpus(spark, store_dir, b1, compact_every=0)  # repairs, then folds
    assert _os.path.isdir(bands) and not _os.path.isdir(old)

    union = spark.read.parquet(b0).unionByName(spark.read.parquet(b1))
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(union, "text", "doc_id").collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(_os.path.join(store_dir, "neardup", "pairs"))
        .drop(BATCH_PART_COL)
        .collect()
    }
    assert got == want and (1, 3) in got


def test_refresh_reruns_a_batch_whose_ledger_swap_crashed(spark, tmp_path, monkeypatch):
    """A crash between the ledger swap's two renames (old ledger moved
    aside, new one not yet in) restores the previous ledger at the
    next entry, so the batch re-runs under the same id and every fold
    stays exact."""
    from data_ingestors_spark.ingest.refresh import refresh_corpus
    from data_ingestors_spark.io import fs
    from data_ingestors_spark.operators.dedup import minhash_near_duplicates
    from data_ingestors_spark.streaming.batches import BATCH_PART_COL

    store_dir = str(tmp_path / "store")
    ledger = os.path.join(store_dir, "ledger.json")
    b0 = _write_batch(spark, tmp_path, "lb0", [(1, "web", LOREM), (2, "web", OTHER)])
    b1 = _write_batch(spark, tmp_path, "lb1", [(3, "web", LOREM_NEAR)])
    refresh_corpus(spark, store_dir, b0, compact_every=0)

    real_rename = fs.rename

    def crash_into_ledger(spark, src, dst):
        if dst == ledger:
            raise OSError("simulated crash before the new ledger is swapped in")
        real_rename(spark, src, dst)

    monkeypatch.setattr(fs, "rename", crash_into_ledger)
    with pytest.raises(OSError):
        refresh_corpus(spark, store_dir, b1, compact_every=0)
    monkeypatch.setattr(fs, "rename", real_rename)
    assert not os.path.exists(ledger)

    r = refresh_corpus(spark, store_dir, b1, compact_every=0)
    assert r["batch_id"] == 1 and r["replay"] is False
    with open(ledger) as fh:
        assert json.load(fh)["batches"] == [b0, b1]
    assert spark.read.parquet(os.path.join(store_dir, "corpus")).count() == 3

    union = spark.read.parquet(b0).unionByName(spark.read.parquet(b1))
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(union, "text", "doc_id").collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(os.path.join(store_dir, "neardup", "pairs"))
        .drop(BATCH_PART_COL)
        .collect()
    }
    assert got == want and (1, 3) in got


def test_spread_input_only_when_under_parallel(spark, tmp_path):
    """r12-opt guard: spread round-robins a 1-file batch read
    to defaultParallelism (so per-doc stages use the cluster) but is
    row-identical and leaves an already-parallel frame untouched."""
    from data_ingestors_spark.operators.layout import spread

    rows = [(i, "s", f"doc {i}") for i in range(100)]
    path = str(tmp_path / "one_file_batch")
    _docs(spark, rows).coalesce(1).write.parquet(path)
    narrow = spark.read.parquet(path)
    assert narrow.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism

    spread_df = spread(narrow)
    assert spread_df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.doc_id for r in spread_df.collect()) == list(range(100))

    wide = _docs(spark, rows).repartition(spark.sparkContext.defaultParallelism)
    assert spread(wide) is wide  # no extra shuffle added


@pytest.mark.parametrize("parity", [0, 1])
def test_refresh_report_single_parity_documents(spark, sf_dir, tmp_path, parity):
    """``documents`` whose doc_ids all share one parity: the absent
    batch folds as an empty batch, so batch ids stay ``doc_id % 2`` and
    the report still matches its oracle."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_ingestors_spark.io.readers import TABLES
    from data_ingestors_spark.queries.ingestion import O_REFRESH_REPORT, q_refresh_report
    from tests.oracle_harness import compare

    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    keep = pc.equal(pc.bit_wise_and(docs["doc_id"], 1), parity)
    pq.write_table(docs.filter(keep), tmp_path / "documents.parquet")

    got = q_refresh_report(spark, str(tmp_path)).collect()
    assert got and {r.batch_id for r in got} == {parity}
    assert compare(
        spark, str(tmp_path), "refresh_report", q_refresh_report, O_REFRESH_REPORT
    ) == []
