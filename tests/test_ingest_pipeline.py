"""End-to-end ingestion slice (SURVEY.md §7 M2): CSV manifest →
validate → conform → normalize → label/data_id/constants → upsert →
summary, with re-ingest idempotence and failure accounting parity."""

from __future__ import annotations

import textwrap

import pytest

from data_ingestors_spark.ingest import Ingestor, IngestionSummary, ResolvedConfig

SCHEMA = {"age": "INT", "score": "DOUBLE", "name": "VARCHAR(50)"}


@pytest.fixture
def csv_source(tmp_path):
    p = tmp_path / "manifest.csv"
    p.write_text(
        textwrap.dedent(
            """\
            age,score,name,target
            31,0.5,alice,yes
            42,1.25,bob,no
            NA,2.5,carol,yes
            17,NULL,  dave  ,no
            """
        )
    )
    return str(p)


def make_ingestor(spark, tmp_path, **overrides):
    cfg = ResolvedConfig(
        table_name="t_demo",
        schema=SCHEMA,
        label_column="target",
        label_policy="bucket",
        **overrides,
    )
    return Ingestor(spark, cfg, str(tmp_path / "table"))


def test_ingest_end_to_end(spark, tmp_path, csv_source):
    ing = make_ingestor(spark, tmp_path)
    s = ing.ingest(csv_source)
    assert isinstance(s, IngestionSummary)
    assert s.total_records == 4
    assert s.inserted == 4
    assert not s.has_failures

    out = spark.read.parquet(str(tmp_path / "table"))
    rows = {r.name: r for r in out.collect()}
    assert rows["alice"].age == 31 and rows["alice"].score == 0.5
    assert rows["carol"].age is None  # NA sentinel → NULL
    assert rows["dave"].score is None and rows["dave"].name == "dave"  # trimmed
    # bucket policy: label is a bucket string 0..63
    assert all(r.label is None or 0 <= int(r.label) < 64 for r in rows.values())
    # framework columns present
    for c in ("data_id", "data_intent", "ingestor_id", "status", "created_at"):
        assert c in out.columns


def test_reingest_idempotent(spark, tmp_path, csv_source):
    ing = make_ingestor(spark, tmp_path)
    ing.ingest(csv_source)
    s2 = ing.ingest(csv_source)
    out = spark.read.parquet(str(tmp_path / "table"))
    assert out.count() == 4  # deterministic data_id ⇒ upsert, not append
    assert s2.processed == 4 and not s2.has_failures


def test_inbatch_duplicate_keys_are_updates_not_failures(spark, tmp_path):
    """Duplicate data_ids within one batch collapse in the upsert's
    dedup; the reference processes duplicate keys as updates — the
    summary must report them as deduplicated, exit SUCCESS, and the
    failed arithmetic must not absorb them (ADVICE r2, medium)."""
    p = tmp_path / "dups.csv"
    p.write_text(
        "age,score,name,target\n"
        "1,1.0,a,y\n"
        "2,2.0,a,y\n"   # same data_id key as row 1 (column strategy)
        "3,3.0,b,n\n"
    )
    ing = make_ingestor(
        spark, tmp_path, data_id_strategy="column", data_id_column="name"
    )
    s = ing.ingest(str(p))
    assert s.total_records == 3
    assert s.deduped == 1
    assert s.processed == 2
    assert s.failed == 0
    assert not s.has_failures
    out = spark.read.parquet(str(tmp_path / "table"))
    assert out.count() == 2


def test_validation_failure_fails_loud(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("age,score,name,target\nnot_an_int,1.0,x,y\n")
    ing = make_ingestor(spark, tmp_path)
    with pytest.raises(ValueError, match="validation failed"):
        ing.ingest(str(p))


def test_duplicate_header_rejected(spark, tmp_path):
    p = tmp_path / "dup.csv"
    p.write_text("age,age,name\n1,2,x\n")
    ing = make_ingestor(spark, tmp_path)
    with pytest.raises(ValueError, match="duplicate column headers"):
        ing.ingest(str(p))


def test_mapped_data_id_skips_blank(spark, tmp_path):
    p = tmp_path / "m.csv"
    p.write_text("age,score,name,target\n1,1.0,a,y\n2,2.0,,y\n")
    ing = make_ingestor(
        spark, tmp_path, data_id_strategy="column", data_id_column="name"
    )
    s = ing.ingest(str(p))
    assert s.skipped == 1 and s.inserted == 1
    assert not s.has_failures  # skipped rows are not failures (base.py:109-121)


def test_reserved_column_collision():
    cfg = ResolvedConfig(table_name="t", schema={"data_id": "INT"})
    with pytest.raises(ValueError, match="reserved"):
        cfg.validate()


def test_intent_validated():
    cfg = ResolvedConfig(table_name="t", data_intent="validate-me")
    with pytest.raises(ValueError, match="data_intent"):
        cfg.validate()


def test_reingest_of_rewritten_source_reads_new_rows(spark, tmp_path):
    """A second ingest of the same source path in the same session reads
    the file as it is now, not rows cached by the first run; an ingest
    leaves the session's Dataset cache as it found it."""
    spark.catalog.clearCache()
    src = tmp_path / "src.csv"
    src.write_text("rid,qty\na,1\nb,2\n")

    def ingest(target):
        cfg = ResolvedConfig(
            table_name="t_reingest",
            schema={"rid": "VARCHAR(10)", "qty": "DOUBLE"},
            data_id_strategy="column",
            data_id_column="rid",
        )
        return Ingestor(spark, cfg, str(tmp_path / target)).ingest(str(src))

    ingest("first")
    src.write_text("rid,qty\na,100\nb,200\nc,300\n")
    s = ingest("second")
    assert (s.total_records, s.processed, s.failed) == (3, 3, 0)
    rows = sorted((r.rid, r.qty) for r in spark.read.parquet(str(tmp_path / "second")).collect())
    assert rows == [("a", 100.0), ("b", 200.0), ("c", 300.0)]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_in_batch_duplicate_winner_does_not_depend_on_the_run_time(spark, tmp_path):
    """The row kept for a key duplicated inside one batch depends only
    on the batch's content: two ingests of one CSV, a second apart,
    store the same rows. The created_at/updated_at stamps differ from
    run to run, so the dedup's tiebreak must not read them."""
    import time

    src = tmp_path / "dups.csv"
    src.write_text("rid,qty\n" + "".join(f"{i % 50},{i}\n" for i in range(100)))
    cfg = ResolvedConfig(
        table_name="t_dups", schema={"rid": "INT", "qty": "INT"},
        data_id_strategy="column", data_id_column="rid",
    )
    stored = []
    for run in range(2):
        if run:
            time.sleep(1.1)
        target = str(tmp_path / f"target{run}")
        s = Ingestor(spark, cfg, target).ingest(str(src))
        assert (s.processed, s.deduped) == (50, 50)
        df = spark.read.parquet(target).drop("created_at", "updated_at", "__bucket")
        stored.append(sorted(tuple(r) for r in df.collect()))
    assert stored[0] == stored[1]


_JOBS_SCHEMA = {"rid": "INT", "qty": "INT", "price": "DOUBLE", "flag": "VARCHAR(3)", "note": "TEXT"}


def _jobs_csv(path, rids):
    path.write_text(
        "rid,qty,price,flag,note\n"
        + "".join(f"{i},{i % 7},{i * 0.5},{'yes' if i % 2 else 'no'},n{i}\n" for i in rids)
    )
    return str(path)


def test_ingest_job_counts_fresh_and_merge(spark, tmp_path):
    """A small tabular CSV ingest runs 6 Spark jobs into a fresh target
    and 7 as a merge: the validation aggregate (which builds the source
    cache and observes the row count) and the upsert; no job runs just
    to count. The upsert is one write with one shuffle (2 jobs: the
    shuffle stage and the write); the merge adds the schema read, and
    into its one-bucket table it runs no job to find the touched
    buckets, no lineage checkpoint and, as one bucket directory is no
    more than Spark's 32-path threshold, no parallel file listing. On
    one core the source is not spread, one shuffle fewer."""
    sc = spark.sparkContext
    cfg = ResolvedConfig(
        table_name="t_jobs", schema=_JOBS_SCHEMA, label_column="flag",
        data_id_strategy="column", data_id_column="rid",
    )
    target = str(tmp_path / "table")
    spread = 1 if sc.defaultParallelism > 1 else 0
    for op, rids, jobs in (("fresh", range(200), 5), ("merge", range(100, 300), 6)):
        group = f"test-ingest-jobs-{op}"
        sc.setJobGroup(group, group)
        try:
            s = Ingestor(spark, cfg, target).ingest(_jobs_csv(tmp_path / f"{op}.csv", rids))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert (s.total_records, s.processed, s.skipped, s.failed) == (200, 200, 0, 0)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs + spread, op


class _DropFlagged(Ingestor):
    """Drops every row whose ``flag`` is ``drop`` before the split."""

    def transform(self, df):
        from pyspark.sql import functions as F

        return df.filter(F.col("flag").isNull() | (F.col("flag") != "drop"))


def test_transform_dropping_rows_keeps_summary_counts_exact(spark, tmp_path):
    """Rows a ``transform`` drops count as failed, blank keys as
    skipped, in-batch duplicates as deduplicated — exactly, into a
    fresh target and again as a merge."""
    src = tmp_path / "src.csv"
    src.write_text(
        "rid,flag\n"
        "1,keep\n2,keep\n2,keep\n3,drop\n4,drop\n5,drop\n,keep\n,keep\n6,keep\n7,keep\n"
    )
    cfg = ResolvedConfig(
        table_name="t_drop", schema={"rid": "INT", "flag": "VARCHAR(4)"},
        data_id_strategy="column", data_id_column="rid",
    )
    for _ in ("fresh", "merge"):
        s = _DropFlagged(spark, cfg, str(tmp_path / "table")).ingest(str(src))
        got = (s.total_records, s.skipped, s.deduped, s.failed, s.processed)
        assert got == (10, 2, 1, 3, 4)
    assert spark.read.parquet(str(tmp_path / "table")).count() == 4


class _DropAll(Ingestor):
    def transform(self, df):
        from pyspark.sql import functions as F

        return df.filter(F.lit(False))


def test_provably_empty_batches_keep_summary_counts_exact(spark, tmp_path):
    """A header-only source, and a ``transform`` the optimizer proves
    empty, report exact counts into a fresh target and as a merge,
    although the optimizer then drops the observed counts from the
    upsert's plan."""
    empty = tmp_path / "empty.csv"
    empty.write_text("rid,flag\n")
    src = tmp_path / "src.csv"
    src.write_text("rid,flag\n1,a\n2,b\n")
    cfg = ResolvedConfig(
        table_name="t_empty", schema={"rid": "INT", "flag": "VARCHAR(4)"},
        data_id_strategy="column", data_id_column="rid",
    )
    cases = (
        (Ingestor, empty, "fresh_empty", (0, 0, 0, 0)),
        (_DropAll, src, "fresh_drop", (2, 0, 2, 0)),
        (Ingestor, src, "merge", (2, 0, 0, 2)),
        (Ingestor, empty, "merge", (0, 0, 0, 0)),
        (_DropAll, src, "merge", (2, 0, 2, 0)),
    )
    for cls, source, target, want in cases:
        s = cls(spark, cfg, str(tmp_path / target)).ingest(str(source))
        assert (s.total_records, s.skipped, s.failed, s.processed) == want, (cls, target)


def test_transform_dropping_rows_keeps_file_category_counts_exact(spark, tmp_path):
    """Same accounting for a file-bearing category, whose split counts
    come from the file transfer's first pass: two rows dropped by the
    transform, one blank key, one record whose file is missing."""
    images = tmp_path / "src" / "images"
    images.mkdir(parents=True)
    for i in range(4):
        (images / f"img{i}.jpg").write_bytes(b"FAKEIMG:64x64:payload")
    dest = tmp_path / "dest"
    dest.mkdir()
    csv = tmp_path / "labels.csv"
    csv.write_text(
        "filename,flag\nimg0,keep\nimg1,keep\nimg2,drop\nimg3,drop\n,keep\nimg5,keep\n"
    )
    cfg = ResolvedConfig(
        table_name="t_drop_img", category="image_classification",
        schema={"filename": "VARCHAR(20)", "flag": "VARCHAR(4)"}, tabular=False,
        data_id_strategy="column", data_id_column="filename",
        src_path=str(tmp_path / "src"), dest_path=str(dest), extension=".jpg",
        target_size=(64, 64),
    )
    s = _DropFlagged(spark, cfg, str(tmp_path / "table")).ingest(str(csv))
    assert (s.total_records, s.skipped, s.file_transfer_failures, s.failed, s.processed) == (
        6, 1, 1, 2, 2
    )
    assert (dest / "img0.jpg").exists() and not (dest / "img2.jpg").exists()


def test_content_hash_data_id_reads_the_mapped_label(spark, tmp_path):
    """The content-hash data_id joins the row's values with ``\\x1f``
    under a per-table namespace; a source column named ``label`` enters
    it as the mapped label, not as its source value."""
    import hashlib
    import uuid

    src = tmp_path / "src.csv"
    src.write_text("rid,label,target\nr1,old1,new1\nr2,old2,new2\n")
    cfg = ResolvedConfig(
        table_name="t_hash",
        schema={"rid": "VARCHAR(10)", "label": "VARCHAR(10)", "target": "VARCHAR(10)"},
        label_column="target",
    )
    Ingestor(spark, cfg, str(tmp_path / "table")).ingest(str(src))
    ns = uuid.uuid5(uuid.NAMESPACE_URL, "ingest://t_hash").hex

    def want(*values):
        return hashlib.sha256((ns + "\x1f".join(values)).encode()).hexdigest()

    got = {r.rid: (r.label, r.data_id) for r in spark.read.parquet(str(tmp_path / "table")).collect()}
    assert got == {
        "r1": ("new1", want("r1", "new1", "new1")),
        "r2": ("new2", want("r2", "new2", "new2")),
    }
