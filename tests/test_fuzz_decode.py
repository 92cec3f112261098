"""Decode-path fuzzing (hypothesis): the fault-isolation contract.

At 10^12-document scale the media column WILL contain every kind of
garbage; the kernel's contract is that arbitrary bytes either decode or
surface as a counted failure — never an unhandled exception, never a
hang.  These properties drive random corruptions (truncation, byte
flips, junk splices, pure noise) through all three codecs and the full
kernel.  JPEG inputs run through both decode paths of the dispatch: the
libjpeg shim and the numpy fallback.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from red_seal_ocr_spark.functions.bmp import encode_bmp
from red_seal_ocr_spark.functions.codecs import ImageDecodeError, decode_image_lazy
from red_seal_ocr_spark.functions.jpeg import encode_jpeg
from red_seal_ocr_spark.functions.jpeg_progressive import encode_jpeg_progressive
from red_seal_ocr_spark.functions.kernel import (
    DECODE_ERROR,
    OK,
    TOO_LARGE,
    process_image,
)
from red_seal_ocr_spark.functions.png import encode_png, encode_png_interlaced


def _base_image(seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    h, w = int(rng.integers(8, 48)), int(rng.integers(8, 48))
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def _encoded(seed: int, fmt: int) -> bytes:
    img = _base_image(seed)
    if fmt == 0:
        return encode_png(img)
    if fmt == 1:
        return encode_jpeg(img, 90, ["444", "420"][seed % 2],
                           restart_interval=seed % 3)
    if fmt == 3:
        return encode_jpeg_progressive(img, 90, ["444", "420"][seed % 2])
    if fmt == 4:
        return encode_png_interlaced(img)
    return encode_bmp(img)


@settings(max_examples=120, deadline=None)
@given(
    seed=st.integers(0, 2**16),
    fmt=st.integers(0, 4),
    cut=st.floats(0.01, 0.999),
)
def test_truncation_never_escapes_the_error_contract(native_paths, seed, fmt, cut):
    data = _encoded(seed, fmt)
    trunc = data[: max(1, int(len(data) * cut))]
    for path in native_paths.values():
        with path():
            try:
                out = decode_image_lazy(trunc)
                # a prefix that still decodes must be a fully intact image
                assert out.full().shape[2] == 3
            except ImageDecodeError:
                pass  # the ONLY allowed failure type


@settings(max_examples=120, deadline=None)
@given(
    seed=st.integers(0, 2**16),
    fmt=st.integers(0, 4),
    flips=st.lists(st.tuples(st.floats(0, 0.999), st.integers(0, 255)),
                   min_size=1, max_size=8),
)
def test_byte_flips_never_escape_the_error_contract(native_paths, seed, fmt, flips):
    data = bytearray(_encoded(seed, fmt))
    for pos_frac, val in flips:
        data[int(pos_frac * len(data))] = val
    for path in native_paths.values():
        with path():
            try:
                out = decode_image_lazy(bytes(data))
                assert out.full().dtype == np.uint8
            except ImageDecodeError:
                pass


@settings(max_examples=80, deadline=None)
@given(junk=st.binary(min_size=0, max_size=256))
def test_pure_noise_is_a_counted_decode_failure(native_paths, junk):
    # behind a JPEG magic too, so the noise reaches the JPEG decoders
    for data in (junk, b"\xff\xd8\xff" + junk):
        for path in native_paths.values():
            with path():
                r = process_image(data)
                assert r.status in (DECODE_ERROR, TOO_LARGE)
                assert r.text is None


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**16), fmt=st.integers(0, 4),
       cut=st.floats(0.05, 0.95))
def test_kernel_never_raises_on_corrupt_media(native_paths, seed, fmt, cut):
    """The full kernel path: corrupt bytes -> ImageResult with a failure
    status (the span passes through unchanged upstream), never an
    exception."""
    data = _encoded(seed, fmt)
    for path in native_paths.values():
        with path():
            r = process_image(data[: int(len(data) * cut)])
            assert r.status in (OK, DECODE_ERROR, TOO_LARGE)
            r2 = process_image(data)
            assert r2.status == OK  # the uncorrupted original always decodes


# ---------------------------------------------------------------------------
# crafted header mutations (round-3 code review: these seven inputs escaped
# the error contract as struct.error / IndexError / numpy ValueError before
# the header validations + the dispatch safety net landed)
# ---------------------------------------------------------------------------


def _seg(marker: int, payload: bytes) -> bytes:
    import struct

    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload


def test_crafted_header_mutations_stay_inside_the_contract():
    from red_seal_ocr_spark.functions.jpeg import JpegError, decode_jpeg, jpeg_dimensions

    soi = b"\xff\xd8"
    crafted = {
        "short_sof": soi + _seg(0xC0, b"\x08\x00"),  # SOF claims 2 payload bytes
        "short_sof_components": soi + _seg(0xC0, b"\x08\x00\x10\x00\x10\x03\x01\x11"),
        "empty_sos": soi + _seg(0xC0, b"\x08\x00\x10\x00\x10\x01\x01\x11\x00")
                     + _seg(0xC4, bytes([0x00]) + bytes(16) )  # degenerate DHT
                     + _seg(0xDA, b""),
        "short_sos_components": soi + _seg(0xC0, b"\x08\x00\x10\x00\x10\x01\x01\x11\x00")
                     + _seg(0xDA, b"\x01\x01"),
        "short_dri": soi + _seg(0xDD, b"\x05"),
        "odd_16bit_dqt": soi + _seg(0xDB, bytes([0x10]) + bytes(127)),
    }
    for name, data in crafted.items():
        with pytest.raises(JpegError):
            decode_jpeg(data)
    with pytest.raises(JpegError):
        jpeg_dimensions(crafted["short_sof"])
    # process_image must count every one of them, never raise
    for data in crafted.values():
        r = process_image(data)
        assert r.status == DECODE_ERROR


def test_bmp_palette_index_beyond_clrused_decodes_black():
    import struct

    pal = bytes([10, 20, 30, 0] * 4)  # biClrUsed = 4
    rows = bytes([0, 200, 3, 255])  # indices 200/255 are out of the palette
    info = struct.pack("<IiiHHIIiiII", 40, 4, 1, 1, 8, 0, 4, 0, 0, 4, 0)
    offset = 14 + 40 + len(pal)
    hdr = struct.pack("<2sIHHI", b"BM", offset + 4, 0, 0, offset)
    from red_seal_ocr_spark.functions.bmp import decode_bmp

    img = decode_bmp(hdr + info + pal + rows)
    assert tuple(img[0, 0]) == (30, 20, 10)
    assert tuple(img[0, 1]) == (0, 0, 0)  # padded palette, not IndexError
    r = process_image(hdr + info + pal + rows)
    assert r.status in (OK, DECODE_ERROR)  # in-contract either way


def test_missing_quant_table_fails_in_header_time():
    """A file whose SOF references an absent DQT must fail BEFORE the
    entropy hot loop (O(headers), per-item budget discipline)."""
    import time

    from red_seal_ocr_spark.functions.jpeg import JpegError, decode_jpeg, encode_jpeg

    img = np.zeros((512, 512, 3), np.uint8)
    data = bytearray(encode_jpeg(img, 90))
    # strip every DQT segment
    out = bytearray()
    i = 0
    while i < len(data):
        if data[i] == 0xFF and i + 3 < len(data) and data[i + 1] == 0xDB:
            ln = (data[i + 2] << 8) | data[i + 3]
            i += 2 + ln
            continue
        out.append(data[i])
        i += 1
    t0 = time.time()
    with pytest.raises(JpegError, match="quant"):
        decode_jpeg(bytes(out))
    assert time.time() - t0 < 0.05  # header-time, not after the MCU loop


def test_crafted_ac_magnitude_category_raises_jpeg_error():
    """ADVICE r03 (medium): a crafted DHT whose AC table emits a magnitude
    size in 11..15 must raise JpegError, not escape as a bare
    ValueError('negative shift count') when the bit reservoir underflows.
    Baseline AC size categories stop at 10 (ITU-T T.81 F.1.2.2.1).

    The crafted stream lands exactly on the escape: after 9 short AC
    codes the reservoir holds 30 bits (>= 26, so no refill), then a
    16-bit code carrying size 15 consumes 31 -> cnt = -1 -> the
    magnitude shift blew up as a bare ValueError before the category
    check existed."""
    from red_seal_ocr_spark.functions.jpeg import JpegError, decode_jpeg

    crafted = (
        b"\xff\xd8"
        # DQT: 8-bit table 0, all ones (trivial dequant)
        + _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        # SOF0: 8x8, 1 component, no subsampling, quant table 0
        + _seg(0xC0, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
        # DHT DC0: one 1-bit code -> symbol 6 (category 6)
        + _seg(0xC4, bytes([0x00, 1] + [0] * 15 + [6]))
        # DHT AC0: one 2-bit code -> 0x01 (run 0, size 1),
        #          one 16-bit code -> 0x0F (run 0, size 15: INVALID)
        + _seg(0xC4, bytes([0x10, 0, 1] + [0] * 13 + [1, 0x01, 0x0F]))
        # SOS: component 1, DC0/AC0
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        # entropy: DC "0"+6 mag bits, 9x ("00"+1 mag bit), then the
        # 16-bit AC code 0x4000 hit with exactly 30 reservoir bits
        + bytes.fromhex("0000000010003ffe")
        + b"\xff\xd9"
    )
    with pytest.raises(JpegError):
        decode_jpeg(crafted)
    # and the kernel counts it, never raises
    assert process_image(crafted).status == DECODE_ERROR
