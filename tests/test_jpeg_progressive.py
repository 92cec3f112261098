"""Progressive (SOF2) JPEG tests (functions/jpeg_progressive.py).

The reference decodes progressive files transparently via PIL
(``src/preprocess.py:335-361``); the engine's SOF2 path must do the same
through the ordinary ``decode_jpeg`` entry.  Correctness pin: progressive
encoding is a different entropy serialization of the SAME quantized
coefficients baseline uses, so a progressive re-encode must decode
BIT-EQUAL to its baseline twin — any scan-logic bug (EOB runs, ZRL
correction-bit windows, successive-approximation order) breaks that
equality.
"""

from __future__ import annotations

import numpy as np
import pytest

from red_seal_ocr_spark.functions.codecs import (
    ImageDecodeError,
    ImageTooLarge,
    decode_image_lazy,
)
from red_seal_ocr_spark.functions.jpeg import (
    JpegError,
    JpegTooLarge,
    decode_jpeg,
    encode_jpeg,
    jpeg_dimensions,
)
from red_seal_ocr_spark.functions.jpeg_progressive import (
    decode_jpeg_progressive,
    encode_jpeg_progressive,
)

RNG = np.random.Generator(np.random.PCG64(77))


def _gradient(h=96, w=144):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(yy * 255 // h), (xx * 255 // w), ((yy + xx) * 255 // (h + w))], axis=2
    ).astype(np.uint8)


# ---------------------------------------------------------------------------
# baseline-twin equality (the correctness pin)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("shape,sub", [
    ((16, 16, 3), "444"),
    ((37, 23, 3), "420"),
    ((64, 48, 3), "422"),
    ((33, 31, 3), "440"),
    ((17, 9, 3), "444"),   # ceil grid != MCU grid in both axes
    ((8, 8, 3), "444"),
    ((7, 5, 3), "422"),
    ((129, 65, 3), "420"),
])
def test_progressive_decodes_equal_to_baseline_twin(shape, sub):
    img = RNG.integers(0, 256, shape, dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, 90, sub))
    prog = decode_jpeg(encode_jpeg_progressive(img, 90, sub))
    assert np.array_equal(base, prog)


@pytest.mark.parametrize("quality", [100, 90, 75, 50])
def test_progressive_twin_equality_across_quality(quality):
    img = _gradient(41, 29)
    base = decode_jpeg(encode_jpeg(img, quality, "444"))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality, "444"))
    assert np.array_equal(base, prog)


def test_progressive_gray_twin_equality():
    img = RNG.integers(0, 256, (25, 33), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, 90))
    prog = decode_jpeg(encode_jpeg_progressive(img, 90))
    assert np.array_equal(base, prog)
    assert prog.shape == (25, 33, 3)


def test_progressive_through_the_codecs_dispatch(native_paths):
    """The kernel path sees progressive bytes through decode_image_lazy;
    the numpy fallback is decode_jpeg bit for bit."""
    img = _gradient(32, 48)
    data = encode_jpeg_progressive(img, 95, "420")
    with native_paths["numpy"]():
        out = decode_image_lazy(data)
    assert out.full().shape == (32, 48, 3)
    assert np.array_equal(out.full(), decode_jpeg(data))


@pytest.mark.parametrize("sub", ["444", None])
def test_progressive_through_the_native_dispatch(native_paths, sub):
    """Through the libjpeg shim, q100 fixtures (the datagen setting)
    decode within 2 levels of decode_jpeg: libjpeg's integer IDCT against
    jpeg.py's exact float one."""
    img = _gradient(32, 48) if sub else _gradient(32, 48)[:, :, 0]
    for data in (encode_jpeg_progressive(img, 100, sub or "444"),
                 encode_jpeg(img, 100, sub or "444")):
        with native_paths["native"]():
            out = decode_image_lazy(data).full()
        want = decode_jpeg(data)
        assert out.shape == want.shape
        assert np.abs(out.astype(np.int16) - want).max() <= 2


def test_progressive_dimensions_header_time():
    data = encode_jpeg_progressive(_gradient(60, 40), 90, "444")
    assert jpeg_dimensions(data) == (60, 40)


def test_progressive_pixel_budget_at_header_time(native_paths):
    data = encode_jpeg_progressive(_gradient(64, 64), 90, "444")
    with pytest.raises(JpegTooLarge):
        decode_jpeg(data, max_pixels=1000)
    # corrupt the entropy tail: the budget check must still fire first
    with pytest.raises(JpegTooLarge):
        decode_jpeg(data[:-30] + bytes(30), max_pixels=1000)
    for path in native_paths.values():
        with path():
            for blob in (data, data[:-30] + bytes(30)):
                with pytest.raises(ImageTooLarge):
                    decode_image_lazy(blob, max_pixels=1000)


# ---------------------------------------------------------------------------
# error contract (same loud-failure rules as baseline)
# ---------------------------------------------------------------------------


def test_progressive_truncation_fails_loudly(native_paths):
    data = encode_jpeg_progressive(_gradient(48, 48), 90, "444")
    for path in native_paths.values():
        saw_error = False
        with path():
            for cut in (0.15, 0.35, 0.55, 0.75, 0.95):
                trunc = data[: int(len(data) * cut)]
                try:
                    out = decode_image_lazy(trunc).full()
                    assert out.shape[2] == 3  # a decodable prefix is a full image
                except ImageDecodeError:
                    saw_error = True
        assert saw_error  # at least the early cuts must fail


def test_progressive_byte_flips_stay_inside_contract(native_paths):
    data = encode_jpeg_progressive(_gradient(32, 32), 90, "420")
    rng = np.random.Generator(np.random.PCG64(3))
    for _ in range(60):
        mut = bytearray(data)
        for _ in range(int(rng.integers(1, 4))):
            mut[int(rng.integers(2, len(mut)))] = int(rng.integers(0, 256))
        for path in native_paths.values():
            with path():
                try:
                    decode_image_lazy(bytes(mut))
                except ImageDecodeError:
                    pass  # the ONLY allowed failure type


def test_progressive_scan_header_validation():
    data = bytearray(encode_jpeg_progressive(_gradient(16, 16), 90, "444"))
    # find the first SOS and corrupt its spectral selection (Ss > Se)
    idx = bytes(data).find(b"\xff\xda")
    assert idx > 0
    ln = int.from_bytes(data[idx + 2 : idx + 4], "big")
    ss_at = idx + 2 + ln - 3
    data[ss_at] = 40
    data[ss_at + 1] = 10
    with pytest.raises(JpegError):
        decode_jpeg_progressive(bytes(data))


def test_progressive_missing_scans_rejected():
    data = encode_jpeg_progressive(_gradient(16, 16), 90, "444")
    # strip everything from the first SOS: headers-only file
    idx = data.find(b"\xff\xda")
    with pytest.raises(JpegError):
        decode_jpeg_progressive(data[:idx] + b"\xff\xd9")
