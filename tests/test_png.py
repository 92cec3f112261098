"""PNG codec tests (engine replacement for PIL/cv2 image IO, SURVEY.md S2)."""

import numpy as np
import pytest

from red_seal_ocr_spark.functions.png import PngError, decode_png, encode_png


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


def test_filters_decode():
    """Decoder handles Sub/Up/Average/Paeth-filtered scanlines."""
    import struct
    import zlib

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    h, w = img.shape[:2]
    # hand-encode with a different filter per row
    filters = [0, 1, 2, 3, 4]
    raw = bytearray()
    prev = np.zeros(w * 3, dtype=np.int32)
    for y, f in enumerate(filters):
        line = img[y].reshape(-1).astype(np.int32)
        enc = np.zeros_like(line)
        for x in range(len(line)):
            a = line[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[x] = (line[x] - pred) & 0xFF
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(data) == img).all()


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
