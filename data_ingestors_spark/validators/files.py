"""File-bearing validators (SURVEY.md V9-V12, V15-V16): directory
listings, extension uniformity, image decoding, XML annotation
structure, file pairing, BIO label/text alignment, tokenizer presence.

Scale design:
- listings come from the ``binaryFile`` data source (distributed,
  recursive) with column pruning — metadata-only scans never read
  file contents (`path` + `length` only);
- pairing is two anti-joins over listings (V12), never a per-file
  loop;
- per-file content validation (image decode, XML parse) runs as
  Arrow-batched ``mapInPandas`` over the binaryFile rows — the only
  places Python touches data, because pixel decoding and XML parsing
  genuinely aren't expressible in Spark SQL.

Image decoding uses PIL when importable; this container has no
imaging libraries, so a clearly-marked deterministic fallback parses
our test fixture format ``FAKEIMG:<width>x<height>:`` instead. The
Spark-side plumbing (schema, batching, aggregation) is identical for
both decoders.
"""

from __future__ import annotations

import io
import json
import os
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestors_spark.validators.base import ValidationResult

try:  # imaging lib not in the container — gate behind import-try
    from PIL import Image  # type: ignore

    _HAVE_PIL = True
except Exception:
    _HAVE_PIL = False


# --- S6/V9: listing + extension uniformity ------------------------------


def list_files(spark: SparkSession, directory: str, with_content: bool = False) -> DataFrame:
    """Recursive file listing as a DataFrame: path, name, stem, ext.

    Hidden files are skipped (reference: file_validator.py:106-148).
    Metadata-only unless with_content (binaryFile prunes `content`
    when unselected, so listings never read file bytes).
    """
    cols = ["path", "length"] + (["content"] if with_content else [])
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*")
        .load(directory)
        .select(*cols)
    )
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    return (
        df.withColumn("name", name)
        .filter(~F.col("name").startswith("."))
        .withColumn("stem", F.regexp_replace(F.col("name"), r"\.[^.]*$", ""))
        .withColumn(
            "ext",
            F.when(
                F.col("name").rlike(r"\.[^.]+$"),
                F.lower(F.regexp_extract(F.col("name"), r"\.([^.]*)$", 1)),
            ).otherwise(F.lit("")),
        )
    )


def validate_file_types(spark: SparkSession, directory: str, allowed_ext: str) -> ValidationResult:
    """All files share one extension AND it equals the allowed one
    (file_validator.py:66-233) — one distributed aggregation."""
    if not os.path.isdir(directory):
        return ValidationResult(False, errors=[f"directory does not exist: {directory}"])
    listing = list_files(spark, directory)
    row = listing.agg(
        F.countDistinct("ext").alias("n_ext"),
        F.count("*").alias("n_files"),
        F.sum(F.when(F.col("ext") != allowed_ext.lower().lstrip("."), 1).otherwise(0)).alias(
            "n_bad"
        ),
        F.slice(F.array_sort(F.collect_set(F.when(F.col("ext") != allowed_ext.lower().lstrip("."), F.col("name")))), 1, 5).alias("samples"),
    ).collect()[0]
    errors = []
    if row.n_files == 0:
        errors.append(f"no files found under {directory}")
    if row.n_bad and row.n_bad > 0:
        errors.append(
            f"{row.n_bad} file(s) with extension != .{allowed_ext}: {list(row.samples)}"
        )
    if row.n_ext > 1:
        errors.append(f"{row.n_ext} distinct extensions present (expected exactly one)")
    return ValidationResult(not errors, errors=errors, metadata={"n_files": row.n_files})


# --- V12: file pairing --------------------------------------------------


def validate_file_pairing(
    spark: SparkSession,
    primary_dir: str,
    sidecar_dir: str,
    *,
    sidecar_suffix: str = "",
) -> ValidationResult:
    """Stems of primary vs sidecar dirs must pair 1:1 — two anti-joins
    (file_pairing_validator.py:60-142). Optional sidecar suffix strip
    ('_mask' for semantic segmentation)."""
    if not os.path.isdir(sidecar_dir) or not os.path.isdir(primary_dir):
        # missing dirs are FileTypeValidator's concern (reference skip)
        return ValidationResult(True, warnings=["pairing skipped: missing directory"])
    prim = list_files(spark, primary_dir).select(F.col("stem").alias("p_stem"))
    side = list_files(spark, sidecar_dir).select(F.col("stem").alias("s_stem_raw"))
    if sidecar_suffix:
        side = side.select(
            F.regexp_replace(F.col("s_stem_raw"), sidecar_suffix + "$", "").alias("s_stem")
        )
    else:
        side = side.select(F.col("s_stem_raw").alias("s_stem"))
    missing = (
        prim.join(side, prim.p_stem == side.s_stem, "left_anti")
        .orderBy("p_stem")
        .limit(10)
        .collect()
    )
    orphans = (
        side.join(prim, prim.p_stem == side.s_stem, "left_anti")
        .orderBy("s_stem")
        .limit(10)
        .collect()
    )
    errors = []
    if missing:
        errors.append(f"primaries missing sidecars: {[r.p_stem for r in missing]}")
    if orphans:
        errors.append(f"orphan sidecars: {[r.s_stem for r in orphans]}")
    return ValidationResult(not errors, errors=errors)


# --- V10: image resolution ----------------------------------------------

FAKE_MAGIC = b"FAKEIMG:"


def _png_dims(b: bytes) -> tuple[int, int]:
    # 8-byte signature, 4-byte length, b"IHDR", width/height as BE u32
    if len(b) < 24 or b[12:16] != b"IHDR":
        raise ValueError("truncated PNG: no IHDR chunk")
    w = int.from_bytes(b[16:20], "big")
    h = int.from_bytes(b[20:24], "big")
    # PNG spec caps dimensions at 2^31 - 1 (signed-int range, strictly)
    if not (0 < w < 1 << 31 and 0 < h < 1 << 31):
        raise ValueError("invalid PNG dimensions")
    return w, h


def _jpeg_dims(b: bytes) -> tuple[int, int]:
    # walk the marker segments to the first SOFn frame header
    i, n = 2, len(b)
    while i + 9 <= n:
        if b[i] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no payload
            i += 2
            continue
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if seg_len < 2:
            raise ValueError("corrupt JPEG segment length")
        # SOF0-15 minus DHT(C4)/JPG(C8)/DAC(CC) carry the frame dims
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                break
            h = int.from_bytes(b[i + 5 : i + 7], "big")
            w = int.from_bytes(b[i + 7 : i + 9], "big")
            if w == 0 or h == 0:
                raise ValueError("invalid JPEG dimensions")
            return w, h
        i += 2 + seg_len
    raise ValueError("truncated JPEG: no SOF frame header")


def _gif_dims(b: bytes) -> tuple[int, int]:
    if len(b) < 10:
        raise ValueError("truncated GIF header")
    # logical screen descriptor, LE u16
    return int.from_bytes(b[6:8], "little"), int.from_bytes(b[8:10], "little")


def _bmp_dims(b: bytes) -> tuple[int, int]:
    """Dimensions from the DIB header, dispatched on its declared size:
    the legacy 12-byte BITMAPCOREHEADER stores 16-bit dims at 18/20,
    the BITMAPINFOHEADER family (40/52/56/108/124) 32-bit dims at
    18/22. Anything else fails loud — guessing offsets on an unknown
    layout silently returns garbage dimensions."""
    if len(b) < 26:
        raise ValueError("truncated BMP header")
    dib_size = int.from_bytes(b[14:18], "little")
    if dib_size == 12:  # BITMAPCOREHEADER: unsigned 16-bit w/h
        w = int.from_bytes(b[18:20], "little")
        h = int.from_bytes(b[20:22], "little")
    elif dib_size in (40, 52, 56, 108, 124):  # INFOHEADER family
        w = int.from_bytes(b[18:22], "little", signed=True)
        h = int.from_bytes(b[22:26], "little", signed=True)  # negative = top-down
    else:
        raise ValueError(f"unsupported BMP DIB header size {dib_size}")
    if w <= 0 or h == 0:
        raise ValueError("invalid BMP dimensions")
    return w, abs(h)


def _tiff_dims(b: bytes) -> tuple[int, int]:
    """TIFF: first IFD's ImageWidth (256) / ImageLength (257) tags —
    both byte orders (the reference's default supported set includes
    .tif/.tiff via PIL, image_validator.py:60; full pixel decode is
    PIL's, via the ``images`` extra)."""
    order = "little" if b[:2] == b"II" else "big"

    def u(pos, n):
        return int.from_bytes(b[pos : pos + n], order)

    ifd = u(4, 4)
    w = h = None
    for k in range(u(ifd, 2)):
        e = ifd + 2 + 12 * k
        tag, typ = u(e, 2), u(e + 2, 2)
        val = u(e + 8, 2 if typ == 3 else 4)
        if tag == 256:
            w = val
        elif tag == 257:
            h = val
    if not w or not h:
        raise ValueError("TIFF missing dimension tags")
    return w, h


def _header_dims(content: bytes) -> tuple[int, int]:
    """Pure-python dimension extraction from public image container
    headers (PNG / JPEG / GIF / BMP / TIFF) — restores fail-loud resolution
    checks when no full decoder (PIL) is installed, matching the
    reference's behavior (image_validator.py:73-382) without adding a
    dependency. Raises ValueError for anything unrecognized/corrupt."""
    if content.startswith(b"\x89PNG\r\n\x1a\n"):
        return _png_dims(content)
    if content.startswith(b"\xff\xd8"):
        return _jpeg_dims(content)
    if content.startswith((b"GIF87a", b"GIF89a")):
        return _gif_dims(content)
    if content.startswith(b"BM"):
        return _bmp_dims(content)
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return _tiff_dims(content)
    raise ValueError("unrecognized image format")


def _decode_dims(content: bytes) -> tuple[int | None, int | None, str | None]:
    """(width, height, error) for one image payload."""
    if content is None or len(content) == 0:
        return None, None, "empty file"
    if content.startswith(FAKE_MAGIC):
        # deterministic test-fixture format: FAKEIMG:<w>x<h>:
        try:
            dims = content.split(b":", 2)[1].decode()
            w, h = (int(x) for x in dims.split("x"))
            return w, h, None
        except Exception:
            return None, None, "corrupt fake image header"
    if _HAVE_PIL:
        try:
            with Image.open(io.BytesIO(content)) as im:
                return im.width, im.height, None
        except Exception as e:  # corrupt / truncated / bomb
            return None, None, f"undecodable image: {type(e).__name__}"
    try:
        w, h = _header_dims(bytes(content))
        return w, h, None
    except ValueError as e:
        return None, None, f"undecodable image: {e}"


def image_dimensions(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed decode: binaryFile rows → (path, width, height,
    error) via Arrow-batched mapInPandas."""
    listing = list_files(spark, directory, with_content=True).select("path", "content")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [_decode_dims(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "width": pd.array([d[0] for d in dims], dtype="Int64"),
                    "height": pd.array([d[1] for d in dims], dtype="Int64"),
                    "error": [d[2] for d in dims],
                }
            )

    return listing.mapInPandas(decode, "path string, width long, height long, error string")


def validate_image_resolution(
    spark: SparkSession, directory: str, target_size: tuple[int, int] | None = None
) -> ValidationResult:
    """Every image decodable and exactly target_size (tolerance 0 —
    image_validator.py:73-382). Auto-detects the expected size from
    the first image (by path order) when unset."""
    dims = image_dimensions(spark, directory).cache()
    try:
        if target_size is None:
            first = dims.filter(F.col("error").isNull()).orderBy("path").limit(1).collect()
            if not first:
                return ValidationResult(False, errors=["no decodable images found"])
            target_size = (first[0].width, first[0].height)
        w, h = int(target_size[0]), int(target_size[1])
        row = dims.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_err"),
            F.sum(
                F.when(
                    F.col("error").isNull() & ((F.col("width") != w) | (F.col("height") != h)), 1
                ).otherwise(0)
            ).alias("n_wrong"),
            F.slice(F.array_sort(F.collect_set(F.when(F.col("error").isNotNull(), F.col("path")))), 1, 5).alias("err_samples"),
        ).collect()[0]
        errors = []
        if row.n_err:
            # fail-loud like the reference (image_validator.py:73-382):
            # with PIL absent the pure-python header parsers still
            # extract dimensions for PNG/JPEG/GIF/BMP, so an
            # undecodable payload is bad data, never a missing codec
            errors.append(f"{row.n_err} undecodable image(s): {list(row.err_samples)}")
        if row.n_wrong:
            errors.append(f"{row.n_wrong} image(s) not {w}x{h}")
        return ValidationResult(
            not errors, errors=errors,
            metadata={"n_images": row.n, "expected": [w, h]},
        )
    finally:
        dims.unpersist()


# --- V11: Pascal VOC XML ------------------------------------------------

_REQUIRED_TOP = ("folder", "filename", "source", "size", "segmented")


def _check_voc_xml(content: bytes) -> list[str]:
    """Per-file structural errors (xml_validator.py:71-643 semantics)."""
    errs: list[str] = []
    try:
        root = ET.fromstring(content)
    except ET.ParseError as e:
        return [f"unparseable XML: {e}"]
    if root.tag != "annotation":
        return [f"root element is <{root.tag}>, expected <annotation>"]
    for el in _REQUIRED_TOP:
        if root.find(el) is None:
            errs.append(f"missing <{el}>")
    size = root.find("size")
    if size is not None:
        for d in ("width", "height", "depth"):
            node = size.find(d)
            try:
                if node is None or int(node.text) <= 0:
                    errs.append(f"size/{d} missing or non-positive")
            except (TypeError, ValueError):
                errs.append(f"size/{d} not an integer")
    for i, obj in enumerate(root.findall("object")):
        tag = f"object[{i}]"
        if obj.find("name") is None or not (obj.findtext("name") or "").strip():
            errs.append(f"{tag}: missing name")
        tr = obj.findtext("truncated")
        if tr is not None and tr.strip() not in ("0", "1"):
            errs.append(f"{tag}: truncated must be 0/1")
        box = obj.find("bndbox")
        if box is None:
            errs.append(f"{tag}: missing bndbox")
            continue
        try:
            xmin, ymin = int(box.findtext("xmin")), int(box.findtext("ymin"))
            xmax, ymax = int(box.findtext("xmax")), int(box.findtext("ymax"))
        except (TypeError, ValueError):
            errs.append(f"{tag}: bndbox coords not integers")
            continue
        if min(xmin, ymin, xmax, ymax) < 0:
            errs.append(f"{tag}: negative bbox coord")
        if not (xmin < xmax and ymin < ymax):
            errs.append(f"{tag}: degenerate bbox ({xmin},{ymin},{xmax},{ymax})")
    return errs


def voc_xml_errors(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed VOC XML validation → (path, errors array)."""
    listing = list_files(spark, directory, with_content=True).select("path", "content")

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"path": pdf["path"], "errors": [_check_voc_xml(c) for c in pdf["content"]]}
            )

    return listing.mapInPandas(check, "path string, errors array<string>")


def validate_voc_xml(spark: SparkSession, directory: str) -> ValidationResult:
    bad = (
        voc_xml_errors(spark, directory)
        .filter(F.size("errors") > 0)
        .orderBy("path")
        .limit(20)
        .collect()
    )
    errors = [f"{os.path.basename(r.path)}: {'; '.join(r.errors)}" for r in bad]
    return ValidationResult(not errors, errors=errors)


# --- V15: BIO label / text alignment ------------------------------------

BIO_TAG_RE = r"^(O|[BI]-\S+)$"
MAX_BIO_ERRORS = 50  # reference cap (bio_label_validator.py:38-39)


def validate_bio_labels(
    spark: SparkSession, manifest: DataFrame, texts_dir: str, label_col: str = "label", filename_col: str = "filename"
) -> ValidationResult:
    """Label = space-separated IOB2 tags; tag count must equal the word
    count of the paired .txt (bio_label_validator.py:71-173). The text
    corpus is read distributed (spark.read.text with file paths) and
    joined to the manifest — no per-row file IO."""
    texts = (
        spark.read.text(os.path.join(texts_dir, "*.txt"))
        .withColumn("path", F.input_file_name())
        .groupBy("path")
        .agg(F.concat_ws(" ", F.collect_list("value")).alias("txt"))
        .withColumn("t_stem", F.regexp_replace(F.element_at(F.split(F.col("path"), "/"), -1), r"\.[^.]*$", ""))
        .select("t_stem", "txt")
    )
    m = manifest.select(
        F.col(filename_col).alias("fname"),
        F.regexp_replace(F.col(filename_col), r"\.[^.]*$", "").alias("m_stem"),
        F.col(label_col).alias("tags"),
    )
    joined = m.join(texts, m.m_stem == texts.t_stem, "left")
    tag_arr = F.split(F.trim(F.col("tags")), r"\s+")
    word_cnt = F.when(
        F.col("txt").isNull() | (F.trim(F.col("txt")) == ""), F.lit(None)
    ).otherwise(F.size(F.split(F.trim(F.col("txt")), r"\s+")))
    checked = joined.select(
        "fname",
        F.col("txt").isNull().alias("file_missing"),
        (~F.forall(tag_arr, lambda t: t.rlike(BIO_TAG_RE))).alias("bad_tags"),
        (F.size(tag_arr) != word_cnt).alias("count_mismatch"),
    )
    bad = (
        checked.filter(F.col("file_missing") | F.col("bad_tags") | F.coalesce("count_mismatch", F.lit(True)))
        .orderBy("fname")
        .limit(MAX_BIO_ERRORS)
        .collect()
    )
    errors = []
    for r in bad:
        reason = (
            "paired text file missing" if r.file_missing
            else "invalid IOB2 tag" if r.bad_tags
            else "tag count != word count"
        )
        errors.append(f"{r.fname}: {reason}")
    return ValidationResult(not errors, errors=errors)


# --- V16: tokenizer -----------------------------------------------------

REQUIRED_SPECIAL_TOKENS = ("[MASK]", "[PAD]")


def validate_tokenizer(src_path: str, *, mandatory: bool) -> ValidationResult:
    """tokenizer.json exists and carries the required special tokens
    (tokenizer_validator.py:51-179). Driver-side: one small file."""
    p = os.path.join(src_path, "tokenizer.json")
    if not os.path.exists(p):
        if mandatory:
            return ValidationResult(False, errors=[f"tokenizer.json missing at {src_path}"])
        return ValidationResult(True, warnings=[f"tokenizer.json not found at {src_path}"])
    try:
        with open(p, encoding="utf-8") as f:
            tok = json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        return ValidationResult(False, errors=[f"tokenizer.json unreadable: {e}"])
    vocab = tok.get("model", {}).get("vocab", {})
    known = set(vocab if isinstance(vocab, dict) else [v[0] for v in vocab if v])
    known |= {t.get("content") for t in tok.get("added_tokens", []) if isinstance(t, dict)}
    missing = [t for t in REQUIRED_SPECIAL_TOKENS if t not in known]
    if missing:
        return ValidationResult(False, errors=[f"tokenizer missing special tokens: {missing}"])
    return ValidationResult(True)
