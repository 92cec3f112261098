"""PNG codec tests (engine replacement for PIL/cv2 image IO, SURVEY.md S2)."""

import struct
import zlib

import numpy as np
import pytest

from red_seal_ocr_spark.functions.png import PngError, _unfilter, decode_png, encode_png


def test_rgb_roundtrip():
    img = np.random.default_rng(0).integers(0, 256, (37, 53, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()


def test_gray_roundtrip_broadcasts():
    img = np.random.default_rng(1).integers(0, 256, (16, 9), dtype=np.uint8)
    out = decode_png(encode_png(img))
    assert out.shape == (16, 9, 3)
    assert (out[..., 0] == img).all() and (out[..., 1] == img).all()


def test_one_pixel():
    img = np.array([[[255, 0, 0]]], dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()


@pytest.mark.parametrize(
    "data",
    [b"", b"notapng", b"\x89PNG\r\n\x1a\n", b"\x89PNG\r\n\x1a\nXXXXXXXXXXX"],
)
def test_corrupt_raises(data):
    with pytest.raises(PngError):
        decode_png(data)


def test_truncated_raises():
    img = np.zeros((20, 20, 3), dtype=np.uint8)
    data = encode_png(img)
    with pytest.raises(PngError):
        decode_png(data[: len(data) // 2])


def test_bitflip_crc_raises():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    data = bytearray(encode_png(img))
    data[40] ^= 0xFF
    with pytest.raises(PngError):
        decode_png(bytes(data))


def _filter_rows(rows: np.ndarray, ftypes: np.ndarray, bpp: int) -> np.ndarray:
    """PNG scanlines of the uint8 ``rows`` (h x stride): row y filtered
    with type ``ftypes[y]``, its filter byte first."""
    x = rows.astype(np.int32)
    a = np.zeros_like(x)
    a[:, bpp:] = x[:, : x.shape[1] - bpp]
    b = np.zeros_like(x)
    b[1:] = x[:-1]
    c = np.zeros_like(x)
    c[1:] = a[:-1]
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    paeth = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    preds = np.stack([np.zeros_like(x), a, b, (a + b) >> 1, paeth])
    out = np.empty((len(x), 1 + x.shape[1]), dtype=np.uint8)
    out[:, 0] = ftypes
    out[:, 1:] = (x - preds[ftypes, np.arange(len(x))]) & 0xFF
    return out


def _encode_filtered(img: np.ndarray, rng, interlace: bool) -> bytes:
    """``img`` (HxW gray or HxWx3 RGB) as a PNG whose every scanline has
    a random filter type (per pass under Adam7)."""
    from red_seal_ocr_spark.functions.png import _SIGNATURE, _adam7_passes, _chunk

    img3 = img.reshape(img.shape[0], img.shape[1], -1)
    h, w, ch = img3.shape
    passes = _adam7_passes(h, w) if interlace else [(0, 0, 1, 1, w, h)]
    parts = []
    for x0, y0, dx, dy, pw, ph in passes:
        if pw and ph:
            rows = img3[y0::dy, x0::dx].reshape(ph, pw * ch)
            parts.append(_filter_rows(rows, rng.integers(0, 5, ph), ch).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if ch == 3 else 0, 0, 0, int(interlace))
    return (_SIGNATURE + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"".join(parts))) + _chunk(b"IEND", b""))


def test_filters_decode(native_paths):
    """None/Sub/Up/Average/Paeth, a random filter type per scanline: the
    native unfilter and the Python loop both restore the pixels, at 1-4
    bytes per pixel and odd widths, and in whole PNGs (gray and RGB,
    plain and Adam7); an unknown filter type is a PngError on both."""
    rng = np.random.default_rng(3)
    for case in range(40):
        bpp = 1 + case % 4
        h, w = int(rng.integers(1, 12)), 2 * int(rng.integers(0, 9)) + 1
        rows = rng.integers(0, 256, (h, w * bpp), dtype=np.uint8)
        raw = _filter_rows(rows, rng.integers(0, 5, h), bpp)
        bad = raw.copy()
        bad[rng.integers(0, h), 0] = 5
        for path in native_paths.values():
            with path():
                assert np.array_equal(_unfilter(raw, h, w, bpp), rows), (h, w, bpp)
                with pytest.raises(PngError, match="unknown filter 5"):
                    _unfilter(bad, h, w, bpp)
    for case in range(24):
        shape = (int(rng.integers(1, 20)), 2 * int(rng.integers(0, 10)) + 1)
        img = rng.integers(0, 256, shape + ((3,) if case % 2 else ()), dtype=np.uint8)
        data = _encode_filtered(img, rng, interlace=bool(case // 2 % 2))
        want = img if img.ndim == 3 else np.repeat(img[..., None], 3, axis=2)
        for path in native_paths.values():
            with path():
                assert np.array_equal(decode_png(data), want), (img.shape, case)


# ---------------------------------------------------------------------------
# Adam7 interlace (VERDICT r03 #4)
# ---------------------------------------------------------------------------


def test_interlaced_decodes_equal_to_plain_twin():
    import numpy as np

    from red_seal_ocr_spark.functions.png import (
        decode_png,
        encode_png,
        encode_png_interlaced,
    )

    rng = np.random.Generator(np.random.PCG64(21))
    for shape in [(16, 16, 3), (17, 9, 3), (1, 1, 3), (2, 3, 3), (7, 7, 3),
                  (9, 10, 3), (33, 31, 3), (100, 1, 3), (1, 100, 3),
                  (5, 5), (13, 21)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)),
                              decode_png(encode_png_interlaced(img))), shape


def test_interlaced_per_pass_scanline_filters():
    """Filters are per-pass (the 'previous scanline' is the previous line
    of the SAME pass): re-filter each pass with Sub (1) and Up (2) by
    hand and the decoder must undo them against pass-local neighbors."""
    import zlib as _zlib

    import numpy as np

    from red_seal_ocr_spark.functions.png import (
        _adam7_passes,
        decode_png,
        encode_png_interlaced,
    )

    rng = np.random.Generator(np.random.PCG64(23))
    img = rng.integers(0, 256, (19, 14, 3), dtype=np.uint8)
    data = bytearray(encode_png_interlaced(img))
    # rebuild the IDAT with filtered pass scanlines
    parts = []
    for pi, (x0, y0, dx, dy, pw, ph) in enumerate(_adam7_passes(19, 14)):
        if pw == 0 or ph == 0:
            continue
        sub = img[y0::dy, x0::dx].reshape(ph, pw * 3).astype(np.int32)
        ftype = 1 if pi % 2 == 0 else 2
        raw = np.zeros((ph, 1 + pw * 3), dtype=np.uint8)
        raw[:, 0] = ftype
        for y in range(ph):
            if ftype == 1:  # Sub: delta vs pixel to the left (bpp=3)
                line = sub[y].copy()
                line[3:] -= sub[y][:-3]
                raw[y, 1:] = (line & 0xFF).astype(np.uint8)
            else:  # Up: delta vs previous scanline OF THIS PASS
                prev = sub[y - 1] if y > 0 else np.zeros(pw * 3, np.int32)
                raw[y, 1:] = ((sub[y] - prev) & 0xFF).astype(np.uint8)
        parts.append(raw.tobytes())
    new_idat = _zlib.compress(b"".join(parts), 1)
    # splice: keep IHDR, replace IDAT payload
    import struct as _struct

    sig_ihdr = bytes(data[:8 + 8 + 13 + 4])
    chunk = (_struct.pack(">I", len(new_idat)) + b"IDAT" + new_idat
             + _struct.pack(">I", _zlib.crc32(b"IDAT" + new_idat) & 0xFFFFFFFF))
    iend = _struct.pack(">I", 0) + b"IEND" + _struct.pack(
        ">I", _zlib.crc32(b"IEND") & 0xFFFFFFFF)
    assert np.array_equal(decode_png(sig_ihdr + chunk + iend), img)
