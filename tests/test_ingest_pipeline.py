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
