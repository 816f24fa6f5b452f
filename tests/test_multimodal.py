"""Real image containers through the media path the package keeps:
V10's pure-python header parsers (``validators.files._header_dims``)
and its distributed ``image_dimensions``. The payloads come from small
reference writers below, so the parsers see real multi-chunk PNGs,
multi-tag TIFF IFDs in both byte orders and bottom-up BMPs."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from data_ingestors_spark.validators.files import _header_dims, image_dimensions


def _dims_via_spark(spark, tmp_path, payloads):
    """{file name: (width, height, error)} from ``image_dimensions``."""
    d = tmp_path / "imgs"
    d.mkdir()
    for name, data in payloads.items():
        (d / name).write_bytes(data)
    return {
        r.path.rsplit("/", 1)[-1]: (r.width, r.height, r.error)
        for r in image_dimensions(spark, str(d)).collect()
    }


def test_real_bmp_decode(spark, tmp_path):
    """A 2x2 bottom-up 24-bit BMP reports its dims through the header
    parser and through the Spark path."""
    w, h = 2, 2
    row_len = ((w * 3 + 3) // 4) * 4
    header = (
        b"BM" + (54 + row_len * h).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little") + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True) + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
        + b"\x00" * 20
    )
    bottom = bytes([0, 0, 0, 255, 255, 255]) + b"\x00\x00"
    top = bytes([10, 10, 10, 200, 200, 200]) + b"\x00\x00"
    bmp = header + bottom + top
    assert _header_dims(bmp) == (2, 2)
    # a top-down BMP stores a negative height; the dims stay positive
    top_down = bytearray(bmp)
    top_down[22:26] = (-h).to_bytes(4, "little", signed=True)
    assert _header_dims(bytes(top_down)) == (2, 2)

    got = _dims_via_spark(spark, tmp_path, {"a.bmp": bmp})
    assert got == {"a.bmp": (2, 2, None)}


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def _encode_png(arr, color_type, filters, palette=None):
    """Reference 8-bit non-interlaced PNG writer: one chosen filter
    type per row (forward transform of RFC 2083 §6)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        h, w = a.shape
        ch = 1
    else:
        h, w, ch = a.shape
    s = a.reshape(h, -1).astype(int)
    raw = bytearray()
    prev = np.zeros(s.shape[1], dtype=int)
    for y in range(h):
        ft = filters[y % len(filters)]
        line = s[y]
        out = np.empty_like(line)
        for i in range(len(line)):
            left = line[i - ch] if i >= ch else 0
            up = prev[i]
            upleft = prev[i - ch] if i >= ch else 0
            if ft == 0:
                out[i] = line[i]
            elif ft == 1:
                out[i] = line[i] - left
            elif ft == 2:
                out[i] = line[i] - up
            elif ft == 3:
                out[i] = line[i] - (left + up) // 2
            else:
                out[i] = line[i] - _paeth(left, up, upleft)
        raw.append(ft)
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        png += chunk(b"PLTE", bytes(palette))
    png += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    return png


def test_real_png_decode_all_filters(spark, tmp_path):
    """Gray, RGB, RGBA and palette PNGs across every scanline filter
    type report their dims through the header parser and the Spark
    path."""
    rng = np.random.RandomState(3)
    gray = rng.randint(0, 256, size=(7, 5), dtype=np.uint8)
    rgb = rng.randint(0, 256, size=(6, 4, 3), dtype=np.uint8)
    rgba = rng.randint(0, 256, size=(3, 3, 4), dtype=np.uint8)
    pal = [0, 0, 0, 255, 0, 0, 0, 255, 0, 255, 255, 255]
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    pngs = {
        "gray.png": (_encode_png(gray, 0, filters=[0, 1, 2, 3, 4]), (5, 7)),
        "rgb.png": (_encode_png(rgb, 2, filters=[4]), (4, 6)),
        "rgba.png": (_encode_png(rgba, 6, filters=[1, 3]), (3, 3)),
        "pal.png": (_encode_png(idx, 3, filters=[0], palette=pal), (2, 2)),
    }
    for name, (png, dims) in pngs.items():
        assert _header_dims(png) == dims, name

    got = _dims_via_spark(
        spark, tmp_path, {name: png for name, (png, _) in pngs.items()}
    )
    assert got == {name: (*dims, None) for name, (_, dims) in pngs.items()}


def _encode_tiff(plane, *, byteorder="<", compression=1, rows_per_strip=None):
    """Reference baseline-TIFF writer for 8-bit gray: header + one IFD
    + strip data. Dims are SHORTs, strip offsets/counts LONG arrays
    when there is more than one strip. ``compression`` is only written
    to its tag; the strips stay raw."""
    h, w = plane.shape
    rows = [plane[r].astype(np.uint8).tobytes() for r in range(h)]
    rps = rows_per_strip or h
    strips = [b"".join(rows[s0 : s0 + rps]) for s0 in range(0, h, rps)]
    e = byteorder
    entries = [
        (256, 3, 1, w),
        (257, 3, 1, h),
        (258, 3, 1, 8),
        (259, 3, 1, compression),
        (262, 3, 1, 1),
        (277, 3, 1, 1),
        (278, 3, 1, rps),
    ]
    n_strips = len(strips)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * (len(entries) + 2) + 4
    off_array_pos = data_off
    cnt_array_pos = off_array_pos + 4 * n_strips
    cur = cnt_array_pos + 4 * n_strips
    soffs = []
    for st in strips:
        soffs.append(cur)
        cur += len(st)
    off_array = b"".join(struct.pack(e + "I", o) for o in soffs)
    cnt_array = b"".join(struct.pack(e + "I", len(st)) for st in strips)
    if n_strips == 1:
        entries += [(273, 4, 1, soffs[0]), (279, 4, 1, len(strips[0]))]
    else:
        entries += [(273, 4, n_strips, off_array_pos), (279, 4, n_strips, cnt_array_pos)]
    entries.sort()

    out = bytearray(b"II*\x00" if e == "<" else b"MM\x00*")
    out += struct.pack(e + "I", ifd_off)
    out += struct.pack(e + "H", len(entries))
    for tag, typ, cnt, val in entries:
        out += struct.pack(e + "HHI", tag, typ, cnt)
        if typ == 3 and cnt == 1:
            out += struct.pack(e + "HH", val, 0)
        else:
            out += struct.pack(e + "I", val)
    out += struct.pack(e + "I", 0)  # next IFD
    out += off_array + cnt_array
    for st in strips:
        out += st
    return bytes(out)


def test_tiff_gray8_both_orders_and_strips():
    """The IFD walk finds ImageWidth/ImageLength in both byte orders,
    with one strip or with strip offset/count arrays."""
    rng = np.random.RandomState(101)
    g = rng.randint(0, 256, size=(9, 14)).astype(np.uint8)
    for bo in ("<", ">"):
        for rps in (None, 3):
            assert _header_dims(_encode_tiff(g, byteorder=bo, rows_per_strip=rps)) == (
                14,
                9,
            ), (bo, rps)


def test_tiff_fail_loud_boundaries_and_validator_dims():
    g = np.zeros((4, 4), dtype=np.uint8)
    t = _encode_tiff(g)
    assert _header_dims(t) == (4, 4)
    mm = _encode_tiff(g, byteorder=">")
    assert _header_dims(mm) == (4, 4)
    # V10 reads the header only: a compression it could not decode
    # still reports the frame's dims
    assert _header_dims(_encode_tiff(g, compression=6)) == (4, 4)
    # a missing ImageWidth tag fails loud, never a guessed size
    bad = bytearray(t)
    n = struct.unpack("<H", bad[8:10])[0]
    for k in range(n):
        e = 10 + 12 * k
        if struct.unpack("<H", bad[e : e + 2])[0] == 256:
            bad[e : e + 2] = struct.pack("<H", 999)
    with pytest.raises(ValueError, match="missing dimension tags"):
        _header_dims(bytes(bad))
    # so does a file cut before its IFD
    with pytest.raises(ValueError, match="missing dimension tags"):
        _header_dims(t[:8])
