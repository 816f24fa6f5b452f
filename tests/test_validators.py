"""Validator battery tests: file-type/pairing/image/XML (V9-V12),
keypoints (V13/V14), BIO (V15), tokenizer (V16), time-series (V2-V6),
and the category dispatch matrix."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from data_ingestors_spark.ingest.config import ResolvedConfig
from data_ingestors_spark.validators.files import (
    validate_bio_labels,
    validate_file_pairing,
    validate_file_types,
    validate_image_resolution,
    validate_tokenizer,
    validate_voc_xml,
)
from data_ingestors_spark.validators.keypoints import validate_keypoints
from data_ingestors_spark.validators.mapping import run_battery, validators_for
from data_ingestors_spark.validators.timeseries import (
    validate_numeric_columns,
    validate_time_before_today,
    validate_time_format,
    validate_time_ordered,
)


def _fake_img(path, w, h):
    path.write_bytes(b"FAKEIMG:%dx%d:" % (w, h) + b"\x00" * 16)


VOC_OK = """<annotation><folder>f</folder><filename>a.jpg</filename>
<source><database>d</database><annotation>voc</annotation></source>
<size><width>64</width><height>64</height><depth>3</depth></size>
<segmented>0</segmented>
<object><name>cat</name><truncated>0</truncated><difficult>0</difficult>
<bndbox><xmin>1</xmin><ymin>2</ymin><xmax>10</xmax><ymax>12</ymax></bndbox></object>
</annotation>"""

VOC_BAD = """<annotation><folder>f</folder><filename>b.jpg</filename>
<source/><size><width>64</width><height>64</height><depth>3</depth></size>
<segmented>0</segmented>
<object><name>dog</name>
<bndbox><xmin>10</xmin><ymin>2</ymin><xmax>10</xmax><ymax>12</ymax></bndbox></object>
</annotation>"""


def test_file_types(spark, tmp_path):
    d = tmp_path / "images"
    d.mkdir()
    _fake_img(d / "a.jpg", 8, 8)
    _fake_img(d / "b.jpg", 8, 8)
    (d / ".hidden").write_bytes(b"x")  # skipped
    assert validate_file_types(spark, str(d), "jpg").is_valid
    _fake_img(d / "c.png", 8, 8)
    res = validate_file_types(spark, str(d), "jpg")
    assert not res.is_valid and "c.png" in res.errors[0]


def test_file_pairing(spark, tmp_path):
    imgs, masks = tmp_path / "images", tmp_path / "masks"
    imgs.mkdir(), masks.mkdir()
    _fake_img(imgs / "a.jpg", 8, 8)
    _fake_img(imgs / "b.jpg", 8, 8)
    (masks / "a_mask.png").write_bytes(b"m")
    res = validate_file_pairing(spark, str(imgs), str(masks), sidecar_suffix="_mask")
    assert not res.is_valid and "b" in res.errors[0]
    (masks / "b_mask.png").write_bytes(b"m")
    assert validate_file_pairing(spark, str(imgs), str(masks), sidecar_suffix="_mask").is_valid


def test_image_resolution(spark, tmp_path):
    d = tmp_path / "images"
    d.mkdir()
    _fake_img(d / "a.jpg", 32, 32)
    _fake_img(d / "b.jpg", 32, 32)
    assert validate_image_resolution(spark, str(d)).is_valid  # auto-detect
    _fake_img(d / "c.jpg", 16, 16)
    res = validate_image_resolution(spark, str(d), (32, 32))
    assert not res.is_valid and "not 32x32" in res.errors[0]
    (d / "broken.jpg").write_bytes(b"FAKEIMG:corrupt")
    res = validate_image_resolution(spark, str(d), (32, 32))
    assert any("undecodable" in e for e in res.errors)


def _real_png(w, h):
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big") + b"IHDR" + ihdr + b"\x00\x00\x00\x00"
    )


def _real_tiff(w, h, byteorder):
    # header + one IFD: ImageWidth as LONG, ImageLength as SHORT (the
    # value sits left-justified in the 4-byte field in both orders)
    o = "little" if byteorder == "II" else "big"

    def entry(tag, typ, val):
        n = 4 if typ == 4 else 2
        return (
            tag.to_bytes(2, o) + typ.to_bytes(2, o) + (1).to_bytes(4, o)
            + val.to_bytes(n, o) + b"\x00" * (4 - n)
        )

    ifd = (2).to_bytes(2, o) + entry(256, 4, w) + entry(257, 3, h) + b"\x00" * 4
    return byteorder.encode() + (42).to_bytes(2, o) + (8).to_bytes(4, o) + ifd


def _real_jpeg(w, h):
    # SOI + APP0(JFIF) + SOF0 carrying the frame dimensions
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = (
        b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof0


def _real_gif(w, h):
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00\x00\x00"


def _real_bmp(w, h):
    # valid BITMAPINFOHEADER (DIB size 40, 32-bit dims); the r4 fixture
    # declared size 12 but wrote 32-bit dims — an invalid hybrid
    dib = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True) + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + b"\x00" * 20
    )
    return b"BM" + (54).to_bytes(4, "little") + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little") + dib


def _core_bmp(w, h):
    # legacy BITMAPCOREHEADER: DIB size 12, unsigned 16-bit dims
    dib = (
        (12).to_bytes(4, "little")
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
    )
    return b"BM" + (26).to_bytes(4, "little") + b"\x00\x00\x00\x00" + (26).to_bytes(4, "little") + dib


def test_image_resolution_real_headers_no_pil(spark, tmp_path):
    """Fail-loud V10 without PIL (VERDICT r3 #3): real PNG/JPEG/GIF/BMP/TIFF
    byte headers must yield exact dimensions via the pure-python
    parsers, and corrupt payloads must FAIL the battery, not warn."""
    from data_ingestors_spark.validators.files import _header_dims

    assert _header_dims(_real_png(640, 480)) == (640, 480)
    assert _header_dims(_real_jpeg(1024, 768)) == (1024, 768)
    assert _header_dims(_real_gif(320, 200)) == (320, 200)
    assert _header_dims(_real_bmp(800, 600)) == (800, 600)
    assert _header_dims(_real_tiff(1280, 720, "II")) == (1280, 720)
    assert _header_dims(_real_tiff(1280, 720, "MM")) == (1280, 720)
    # legacy CORE-header layout decodes via its own 16-bit offsets
    assert _header_dims(_core_bmp(320, 240)) == (320, 240)
    import pytest as _pytest

    # PNG spec: dims are capped at 2^31 - 1, so exactly 2^31 must fail
    with _pytest.raises(ValueError, match="invalid PNG dimensions"):
        _header_dims(_real_png(1 << 31, 32))
    # unknown DIB header size: fail loud, never guess offsets
    bad_dib = bytearray(_real_bmp(8, 8))
    bad_dib[14:18] = (64).to_bytes(4, "little")
    with _pytest.raises(ValueError, match="unsupported BMP DIB header size"):
        _header_dims(bytes(bad_dib))

    with _pytest.raises(ValueError, match="truncated PNG"):
        _header_dims(b"\x89PNG\r\n\x1a\n\x00\x00")
    with _pytest.raises(ValueError, match="no SOF"):
        _header_dims(b"\xff\xd8\xff\xe0\x00\x04\x00\x00")
    with _pytest.raises(ValueError, match="unrecognized"):
        _header_dims(b"not an image at all")

    d = tmp_path / "images"
    d.mkdir()
    (d / "a.png").write_bytes(_real_png(32, 32))
    (d / "b.jpg").write_bytes(_real_jpeg(32, 32))
    (d / "c.gif").write_bytes(_real_gif(32, 32))
    assert validate_image_resolution(spark, str(d), (32, 32)).is_valid
    (d / "wrong.png").write_bytes(_real_png(16, 16))
    res = validate_image_resolution(spark, str(d), (32, 32))
    assert not res.is_valid and any("not 32x32" in e for e in res.errors)
    (d / "corrupt.png").write_bytes(b"\x89PNG\r\n\x1a\ngarbage")
    res = validate_image_resolution(spark, str(d), (32, 32))
    assert not res.is_valid and any("undecodable" in e for e in res.errors)


def test_voc_xml(spark, tmp_path):
    d = tmp_path / "annotations"
    d.mkdir()
    (d / "a.xml").write_text(VOC_OK)
    assert validate_voc_xml(spark, str(d)).is_valid
    (d / "b.xml").write_text(VOC_BAD)
    res = validate_voc_xml(spark, str(d))
    assert not res.is_valid and "degenerate bbox" in res.errors[0]


def test_keypoints(spark):
    good = json.dumps({"nose": [1.0, 2.0], "tail": [5.0, 9.0]})
    df = spark.createDataFrame(
        [Row(annotation=good, visibility=json.dumps({"nose": 1, "tail": 0}))]
    )
    assert validate_keypoints(df, "annotation", "visibility", n_keypoints=2).is_valid
    bad = spark.createDataFrame(
        [
            Row(annotation=good, visibility=json.dumps({"nose": 1, "tail": 0})),
            Row(annotation=json.dumps({"nose": [1.0, -2.0], "tail": [5.0, 9.0]}),
                visibility=json.dumps({"nose": 2, "paw": 1})),
        ]
    )
    res = validate_keypoints(bad, "annotation", "visibility", n_keypoints=2)
    assert not res.is_valid
    joined = " ".join(res.errors)
    assert "kp_bad_point" in joined and "vis_bad_value" in joined and "vis_key_mismatch" in joined


def test_bio_labels(spark, tmp_path):
    texts = tmp_path / "texts"
    texts.mkdir()
    (texts / "s1.txt").write_text("John lives in Paris")
    (texts / "s2.txt").write_text("hello world")
    manifest = spark.createDataFrame(
        [
            Row(filename="s1.txt", label="B-PER O O B-LOC"),
            Row(filename="s2.txt", label="O O O"),  # count mismatch
        ]
    )
    res = validate_bio_labels(spark, manifest, str(texts))
    assert not res.is_valid
    assert any("s2.txt" in e and "tag count" in e for e in res.errors)


def test_tokenizer(tmp_path):
    assert not validate_tokenizer(str(tmp_path), mandatory=True).is_valid
    assert validate_tokenizer(str(tmp_path), mandatory=False).is_valid  # warn only
    (tmp_path / "tokenizer.json").write_text(
        json.dumps({"model": {"vocab": {"a": 0, "[MASK]": 1, "[PAD]": 2}}, "added_tokens": []})
    )
    assert validate_tokenizer(str(tmp_path), mandatory=True).is_valid


def test_time_series_validators(spark):
    df = spark.createDataFrame(
        [
            Row(timestamp="2020-01-01 00:00:00", v="1.5"),
            Row(timestamp="2020-01-02 00:00:00", v="2.5"),
            Row(timestamp="2020-01-03 00:00:00", v=None),
        ]
    )
    assert validate_time_format(df, "timestamp", {"timestamp": "TIMESTAMP"}).is_valid
    assert not validate_time_format(df, "timestamp", {"timestamp": "DATETIME"}).is_valid
    assert validate_time_ordered(df, "timestamp").is_valid
    assert validate_time_before_today(df, "timestamp").is_valid
    assert validate_numeric_columns(df, exclude=["timestamp"]).is_valid

    amb = spark.createDataFrame([Row(timestamp="03.04.2021 10:00:00")])
    res = validate_time_format(amb, "timestamp", {"timestamp": "TIMESTAMP"})
    assert not res.is_valid and "ambiguous" in res.errors[0]

    unordered = spark.createDataFrame(
        [Row(timestamp="2020-01-02"), Row(timestamp="2020-01-01")]
    )
    assert not validate_time_ordered(unordered, "timestamp").is_valid

    future = spark.createDataFrame([Row(timestamp="2999-01-01")])
    assert not validate_time_before_today(future, "timestamp").is_valid


def test_category_battery(spark, tmp_path):
    df = spark.createDataFrame([Row(age="31", score="1.5")])
    cfg = ResolvedConfig(table_name="t1", schema={"age": "INT", "score": "DOUBLE"})
    ctx = {"df": df, "config": cfg, "dest_path": str(tmp_path / "dest")}
    assert run_battery(spark, "tabular_classification", ctx).is_valid
    # bad table name fails via the common tail
    ctx["config"] = ResolvedConfig(table_name="1bad", schema=cfg.schema)
    assert not run_battery(spark, "tabular_classification", ctx).is_valid
    # every declared category resolves to a battery
    for cat in (
        "tabular_classification", "time_series", "time_to_event", "image_classification",
        "object_detection", "semantic_segmentation", "keypoint_detection",
        "text_classification", "token_classification", "mlm",
    ):
        assert validators_for(cat)


def test_time_ordered_scalable_matches_global(spark, tmp_path):
    """The per-partition boundary form (SURVEY §7 hard part 4) agrees
    with the single-window form on multi-split file input, detects
    both within-partition and boundary violations, and stays parallel
    (no single-partition global sort)."""
    from data_ingestors_spark.validators.timeseries import (
        validate_time_ordered,
        validate_time_ordered_scalable,
    )

    # ordered series written as several files, read back in file order
    path = str(tmp_path / "ordered")
    spark.createDataFrame(
        [(f"2020-01-{d:02d} 00:00:00",) for d in range(1, 29)], "timestamp string"
    ).coalesce(1).write.parquet(path)
    ordered = spark.read.parquet(path)
    assert validate_time_ordered_scalable(ordered, "timestamp").is_valid

    # an out-of-order pair inside one partition
    bad = spark.createDataFrame(
        [("2020-01-02",), ("2020-01-01",), ("2020-01-03",)], "timestamp string"
    ).coalesce(1)
    res = validate_time_ordered_scalable(bad, "timestamp")
    assert not res.is_valid and res.metadata["n_out_of_order"] == 1
    assert res.metadata["n_out_of_order"] == validate_time_ordered(
        bad, "timestamp"
    ).metadata["n_out_of_order"]

    # a violation that exists ONLY at a partition boundary: partition 0
    # ends later than partition 1 begins — each partition alone is
    # sorted. parallelize with explicit slices pins the physical layout
    # (no shuffle, so AQE cannot coalesce the partitions away).
    rdd = spark.sparkContext.parallelize([("2020-02-01",), ("2020-01-01",)], 2)
    boundary = spark.createDataFrame(rdd, "timestamp string")
    res2 = validate_time_ordered_scalable(boundary, "timestamp")
    assert not res2.is_valid
    assert res2.metadata["n_at_partition_boundary"] == 1
    assert res2.metadata["n_within_partition"] == 0


def test_time_ordered_scalable_many_partitions_no_single_exchange(spark):
    """SURVEY §7 hard part 4 at width: a sorted series spread over
    MORE partitions than local cores exercises the boundary-merge path
    (n-1 boundary comparisons on the driver, all green), and the plan
    of the parallel core carries NO SinglePartition exchange — global
    monotonicity without a global sort, at any input size."""
    import datetime as dt

    from data_ingestors_spark.validators.timeseries import (
        _ordered_partition_agg,
        validate_time_ordered_scalable,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [((t0 + dt.timedelta(seconds=i)).isoformat(),) for i in range(4000)]
    # explicit 40 slices pin the physical layout (> the 32 local cores;
    # no shuffle, so AQE cannot coalesce the partitions away)
    rdd = spark.sparkContext.parallelize(rows, 40)
    df = spark.createDataFrame(rdd, "timestamp string")
    res = validate_time_ordered_scalable(df, "timestamp")
    assert res.is_valid
    assert res.metadata["n_partitions"] == 40
    assert res.metadata["n_at_partition_boundary"] == 0

    plan = _ordered_partition_agg(df, "timestamp")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SinglePartition" not in plan, plan
    # swapping the last two 100-row blocks keeps every partition
    # internally sorted but partition 38 now ENDS after partition 39
    # BEGINS — caught only by the boundary merge
    flipped = rows[:3800] + rows[3900:4000] + rows[3800:3900]
    res2 = validate_time_ordered_scalable(
        spark.createDataFrame(spark.sparkContext.parallelize(flipped, 40), "timestamp string"),
        "timestamp",
    )
    assert not res2.is_valid
    assert res2.metadata["n_at_partition_boundary"] == 1
    assert res2.metadata["n_within_partition"] == 0


# --- V1 column battery: exact verdicts --------------------------------------

_V1_SCHEMA = {
    "i": "INT", "b": "BIGINT", "f": "DOUBLE", "dec": "DECIMAL(10,2)", "bo": "BOOL",
    "ts": "DATETIME", "d": "DATE", "vc": "VARCHAR(5)", "ch": "CHAR(2)", "t": "TEXT",
}


def _string_frame(spark, schema, rows):
    from pyspark.sql import types as T

    st = T.StructType([T.StructField(c, T.StringType(), True) for c in schema])
    return spark.createDataFrame(rows, st)


def test_column_battery_verdicts_are_exact(spark):
    """One passing and one failing frame through the V1 battery,
    together hitting every rule; the error strings and the metadata
    (counts and the ≤5 sorted samples per column) are pinned exactly.
    In the failing frame ``n`` passes and still reports ``[]``."""
    from data_ingestors_spark.validators.rules import validate_schema_single_pass

    good = _string_frame(spark, _V1_SCHEMA, [
        ("1", "9007199254740993", "1.5", "2.25", "yes", "2024-01-02 03:04:05",
         "2024-01-02", "abc", "ab", "free text"),
        ("-7", "0", "1e3", "-3", "0", "2024-01-02", "2023-12-31", "abcde", "xy", None),
        (None,) * 10,
    ])
    res = validate_schema_single_pass(good, _V1_SCHEMA)
    assert res.is_valid and res.errors == []
    assert res.metadata == {
        "i__nulls": 1, "i__non_integer": 0, "i__overflow": 0, "i__bad_samples": [],
        "b__nulls": 1, "b__non_integer": 0, "b__overflow": 0, "b__bad_samples": [],
        "f__nulls": 1, "f__non_numeric": 0, "f__bad_samples": [],
        "dec__nulls": 1, "dec__non_numeric": 0, "dec__bad_samples": [],
        "bo__nulls": 1, "bo__bad_bool": 0, "bo__bad_samples": [],
        "ts__nulls": 1, "ts__unparseable": 0, "ts__bad_samples": [],
        "d__nulls": 1, "d__unparseable": 0, "d__bad_samples": [],
        "vc__nulls": 1, "vc__too_long": 0, "vc__bad_samples": [],
        "ch__nulls": 1, "ch__wrong_length": 0, "ch__bad_samples": [],
        "t__nulls": 2,
    }

    schema = {**_V1_SCHEMA, "n": "INT"}
    bad = _string_frame(spark, schema, [
        ("3.5", "1.5", "x", "1,5", "maybe", "not-a-date", "2024-13-45", "toolong", "abc", "t", "1"),
        ("3000000000", "99999999999999999999", "inf", "nan", "2", "nope", "x", "sixchr",
         "a", None, "2"),
        ("abc", "7", "2.5", "1.25", "true", "2024-01-02", "2024-01-02", "ok", "ok", "u", None),
        ("1e1", None, "NaN", None, None, None, None, "vvvvvv", None, None, "3"),
        (None, None, None, None, None, None, None, "uuuuuu", None, None, "4"),
        (None, None, None, None, None, None, None, "wwwwww", None, None, "5"),
        (None, None, None, None, None, None, None, "aaaaaa", None, None, "6"),
    ])
    res = validate_schema_single_pass(bad, schema)
    assert not res.is_valid
    assert res.errors == [
        "i__non_integer: 2 offending values (samples: ['3.5', '3000000000', 'abc'])",
        "i__overflow: 1 offending values (samples: ['3.5', '3000000000', 'abc'])",
        "b__non_integer: 1 offending values (samples: ['1.5', '99999999999999999999'])",
        "b__overflow: 1 offending values (samples: ['1.5', '99999999999999999999'])",
        "f__non_numeric: 3 offending values (samples: ['NaN', 'inf', 'x'])",
        "dec__non_numeric: 2 offending values (samples: ['1,5', 'nan'])",
        "bo__bad_bool: 2 offending values (samples: ['2', 'maybe'])",
        "ts__unparseable: 2 offending values (samples: ['nope', 'not-a-date'])",
        "d__unparseable: 2 offending values (samples: ['2024-13-45', 'x'])",
        "vc__too_long: 6 offending values (samples: "
        "['aaaaaa', 'sixchr', 'toolong', 'uuuuuu', 'vvvvvv'])",
        "ch__wrong_length: 2 offending values (samples: ['a', 'abc'])",
    ]
    assert res.metadata == {
        "i__nulls": 3, "i__non_integer": 2, "i__overflow": 1,
        "i__bad_samples": ["3.5", "3000000000", "abc"],
        "b__nulls": 4, "b__non_integer": 1, "b__overflow": 1,
        "b__bad_samples": ["1.5", "99999999999999999999"],
        "f__nulls": 3, "f__non_numeric": 3, "f__bad_samples": ["NaN", "inf", "x"],
        "dec__nulls": 4, "dec__non_numeric": 2, "dec__bad_samples": ["1,5", "nan"],
        "bo__nulls": 4, "bo__bad_bool": 2, "bo__bad_samples": ["2", "maybe"],
        "ts__nulls": 4, "ts__unparseable": 2, "ts__bad_samples": ["nope", "not-a-date"],
        "d__nulls": 4, "d__unparseable": 2, "d__bad_samples": ["2024-13-45", "x"],
        "vc__nulls": 0, "vc__too_long": 6,
        "vc__bad_samples": ["aaaaaa", "sixchr", "toolong", "uuuuuu", "vvvvvv"],
        "ch__nulls": 4, "ch__wrong_length": 2, "ch__bad_samples": ["a", "abc"],
        "t__nulls": 5,
        "n__nulls": 1, "n__non_integer": 0, "n__overflow": 0, "n__bad_samples": [],
    }


def test_column_battery_reports_samples_for_double_underscore_names(spark):
    """A failing column whose own name contains ``__`` still reports its
    offending samples (the metric name is not split on the first
    ``__``)."""
    from data_ingestors_spark.validators.rules import validate_schema_single_pass

    schema = {"qty__v2": "INT", "note__x__y": "VARCHAR(2)"}
    df = _string_frame(spark, schema, [("1.5", "abc"), ("2", "ok")])
    res = validate_schema_single_pass(df, schema)
    assert res.errors == [
        "qty__v2__non_integer: 1 offending values (samples: ['1.5'])",
        "note__x__y__too_long: 1 offending values (samples: ['abc'])",
    ]
    assert res.metadata["qty__v2__bad_samples"] == ["1.5"]
