"""Baseline JPEG codec (pure numpy + stdlib).

The reference accepts ``jpg/jpeg/png/bmp`` uploads (``main.py:218-226``)
and decodes them with PIL/OpenCV (``src/preprocess.py:335-361``).  The
kernel's dispatch decodes JPEG through the system libjpeg
(``native.py``); this module is its fallback where no C compiler or
libjpeg is available, the test oracle for it, the MJPEG frame decoder of
the video tier, and the only JPEG *encoder* (fixture synthesis).  It is a
baseline (ITU-T T.81 sequential DCT, Huffman) codec:

decoder
    SOF0/SOF1 frames, grayscale or YCbCr, sampling factors 1-2 in each
    axis (4:4:4 / 4:2:2 / 4:4:0 / 4:2:0), restart markers, 8- and 16-bit
    DQT precision.  Progressive (SOF2) and arithmetic coding are rejected
    with a clear error.  Huffman tables are built from the file's own DHT
    segments via a flat 16-bit peek LUT (one table build per image,
    vectorized fills); dequant / un-zigzag / IDCT / upsample / color
    convert all run batched in numpy — the only per-symbol Python work is
    the entropy decode itself.
decoder cost budget
    frame dimensions are checked against ``max_pixels`` at SOF-parse time
    (before any entropy work) and raise :class:`JpegTooLarge`, mirroring
    the PNG header-time budget (``png.py``); entropy decode is inherently
    O(compressed bytes).
encoder
    quality-scaled Annex-K quantization tables (libjpeg's public scaling
    formula), standard Annex-K Huffman tables (shipped in DHT, so any
    spec decoder — including this module's — reads them from the file),
    4:4:4 or 4:2:0, optional restart interval.  Exists to synthesize
    fixtures: libjpeg is linked for decoding only.

The DCT pair is the exact orthonormal DCT-II (verified in tests against a
naive O(n^4) transform written straight from the T.81 formula), so a
high-quality round-trip reproduces pixels to within quantization error —
errors in either direction would not cancel.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "JpegError",
    "JpegTooLarge",
    "decode_jpeg",
    "encode_jpeg",
    "jpeg_dimensions",
]


class JpegError(ValueError):
    """Raised on malformed or unsupported JPEG input."""


class JpegTooLarge(JpegError):
    """Frame dimensions exceed the per-item pixel budget (detected at
    SOF-parse time, before any entropy-decode work)."""


# ---------------------------------------------------------------------------
# shared tables
# ---------------------------------------------------------------------------

# zigzag index -> natural (row-major) index, ITU-T T.81 Figure 5
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_UNZIGZAG = np.argsort(ZIGZAG)  # natural index -> zigzag position

# Annex K base quantization tables (quality 50)
_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K Huffman table specs: (BITS[1..16], HUFFVAL)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
for _bits, _vals in [(_DC_LUMA_BITS, _DC_LUMA_VALS), (_DC_CHROMA_BITS, _DC_CHROMA_VALS),
                     (_AC_LUMA_BITS, _AC_LUMA_VALS), (_AC_CHROMA_BITS, _AC_CHROMA_VALS)]:
    assert sum(_bits) == len(_vals), "inconsistent Huffman spec"


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg's public quality->table scaling (jcparam.c semantics)."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_QT_LUMA, _QT_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix A: F = A f A^T, f = A^T F A."""
    x = np.arange(8)
    u = x[:, None]
    A = np.cos((2 * x[None, :] + 1) * u * np.pi / 16) / 2.0
    A[0, :] /= np.sqrt(2.0)
    return A


_A = _dct_matrix()


# ---------------------------------------------------------------------------
# Huffman code construction (canonical, from BITS/HUFFVAL — T.81 Annex C)
# ---------------------------------------------------------------------------


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _DecodeLUT:
    """Flat 16-bit peek lookup: value = (symbol << 5) | code_length.

    Built once per DHT table per image with vectorized range fills; decode
    is then one peek + one array index per symbol.
    """

    __slots__ = ("table", "lst")

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        if sum(bits) != len(vals):
            raise JpegError("DHT: BITS/HUFFVAL mismatch")
        self.table = np.zeros(1 << 16, dtype=np.int32)  # 0 = invalid
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                lo = code << (16 - length)
                hi = lo + (1 << (16 - length))
                self.table[lo:hi] = (int(vals[k]) << 5) | length
                code += 1
                k += 1
            if code > (1 << length):
                raise JpegError("DHT: over-subscribed code lengths")
            code <<= 1
        # hot-loop form: a plain Python list indexes ~3x faster than a
        # numpy array when the consumer is a scalar Python loop
        self.lst = self.table.tolist()


_LUT_CACHE: dict[bytes, _DecodeLUT] = {}


def _lut_cached(key: bytes, bits: list[int], vals: list[int]) -> _DecodeLUT:
    """Per-process cache keyed on the raw BITS+HUFFVAL bytes: building the
    64K peek LUT costs ~0.9 ms, which dominated small-image decode, and
    real corpora (and every file this encoder emits) reuse the same
    Annex-K tables across millions of images."""
    lut = _LUT_CACHE.get(key)
    if lut is None:
        if len(_LUT_CACHE) >= 64:  # bound a pathological many-tables corpus
            _LUT_CACHE.clear()
        lut = _DecodeLUT(bits, vals)
        _LUT_CACHE[key] = lut
    return lut


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _parse_segments(data: bytes):
    """Yield (marker, payload_start, payload_end) up to and incl. SOS."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise JpegError("bad SOI")
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        start, end = pos + 4, pos + 2 + length
        if end > n or length < 2:
            raise JpegError("truncated segment")
        yield marker, start, end
        if marker == 0xDA:  # SOS — entropy data follows
            return
        pos = end
    raise JpegError("missing SOS")


def jpeg_dimensions(data: bytes) -> tuple[int, int]:
    """(height, width) from the SOF header — O(headers), no entropy work."""
    for marker, s, e in _parse_segments(bytes(data)):
        if marker in (0xC0, 0xC1, 0xC2):
            if e - s < 5:
                raise JpegError("truncated SOF")
            _, h, w = struct.unpack(">BHH", data[s : s + 5])
            return h, w
    raise JpegError("missing SOF")


def _entropy_spans(data: bytes, start: int):
    """Split entropy-coded data into unstuffed per-restart segments."""
    spans: list[bytes] = []
    seg_start = start
    pos = start
    n = len(data)
    while True:
        ff = data.find(b"\xff", pos)
        if ff < 0 or ff + 1 >= n:
            spans.append(data[seg_start:n])
            break
        nxt = data[ff + 1]
        if nxt == 0x00:
            pos = ff + 2
            continue
        if 0xD0 <= nxt <= 0xD7:  # restart marker: segment boundary
            spans.append(data[seg_start:ff])
            seg_start = pos = ff + 2
            continue
        spans.append(data[seg_start:ff])  # EOI or next header marker
        break
    return [s.replace(b"\xff\x00", b"\xff") for s in spans]


def _parse_dqt(seg: bytes, qtables: dict[int, np.ndarray]) -> None:
    """Parse one DQT segment body into ``qtables`` (shared with the
    progressive decoder)."""
    p = 0
    while p < len(seg):
        pq, tq = seg[p] >> 4, seg[p] & 0x0F
        p += 1
        if pq == 0:
            if len(seg) - p < 64:
                raise JpegError("truncated DQT")
            t = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int64)
            p += 64
        elif pq == 1:
            if len(seg) - p < 128:
                raise JpegError("truncated DQT")
            t = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int64)
            p += 128
        else:
            raise JpegError("bad DQT precision")
        if len(t) != 64:
            raise JpegError("truncated DQT")
        qtables[tq] = t


def _parse_dht(seg: bytes, huff: dict[tuple[int, int], "_DecodeLUT"]) -> None:
    """Parse one DHT segment body into ``huff`` (shared with the
    progressive decoder)."""
    p = 0
    while p + 17 <= len(seg):
        tc, th = seg[p] >> 4, seg[p] & 0x0F
        bits = list(seg[p + 1 : p + 17])
        nv = sum(bits)
        vals = list(seg[p + 17 : p + 17 + nv])
        if len(vals) != nv:
            raise JpegError("truncated DHT")
        huff[(tc, th)] = _lut_cached(bytes(seg[p + 1 : p + 17 + nv]), bits, vals)
        p += 17 + nv


def _parse_sof(seg: bytes, max_pixels: int):
    """Parse a SOF segment body -> (h, w, comps); shared validations
    (precision, dimensions, pixel budget, component count, sampling)."""
    if len(seg) < 6:
        raise JpegError("truncated SOF")
    prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
    if prec != 8:
        raise JpegError(f"unsupported sample precision {prec}")
    if h <= 0 or w <= 0:
        raise JpegError("bad dimensions")
    if h * w > max_pixels:
        # budget enforced BEFORE any entropy work (png.py analog)
        raise JpegTooLarge(f"{w}x{h} exceeds pixel budget {max_pixels}")
    if nc not in (1, 3):
        raise JpegError(f"unsupported component count {nc}")
    if len(seg) < 6 + 3 * nc:
        raise JpegError("truncated SOF component list")
    comps = []
    for i in range(nc):
        cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
        hf, vf = hv >> 4, hv & 0x0F
        if not (1 <= hf <= 2 and 1 <= vf <= 2):
            raise JpegError(f"unsupported sampling {hf}x{vf}")
        comps.append((cid, hf, vf, tq))
    return h, w, comps


def decode_jpeg(data: bytes, max_pixels: int = 64_000_000) -> np.ndarray:
    """Decode baseline JPEG bytes to an HxWx3 uint8 RGB array.

    ``max_pixels`` is the per-item cost budget: frame dimensions above it
    raise :class:`JpegTooLarge` at SOF-parse time.
    """
    data = bytes(data)
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _DecodeLUT] = {}  # (class, id) -> LUT
    frame = None  # (h, w, comps) where comps = [(cid, hf, vf, tq)]
    restart_interval = 0
    scan = None  # ([(comp_idx, dc_id, ac_id)], entropy_start)

    for marker, s, e in _parse_segments(data):
        seg = data[s:e]
        if marker == 0xDB:  # DQT
            _parse_dqt(seg, qtables)
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 baseline & extended sequential
            frame = _parse_sof(seg, max_pixels)
        elif marker == 0xC2:  # SOF2: delegate to the progressive decoder
            from .jpeg_progressive import decode_jpeg_progressive

            return decode_jpeg_progressive(data, max_pixels)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError(f"unsupported SOF marker {marker:#x}")
        elif marker == 0xC4:  # DHT
            _parse_dht(seg, huff)
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise JpegError("truncated DRI")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("SOS before SOF")
            if len(seg) < 1:
                raise JpegError("truncated SOS")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns:
                raise JpegError("truncated SOS component list")
            sel = []
            by_id = {c[0]: i for i, c in enumerate(frame[2])}
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                if cs not in by_id:
                    raise JpegError("scan references unknown component")
                sel.append((by_id[cs], tt >> 4, tt & 0x0F))
            if ns != len(frame[2]):
                raise JpegError("multi-scan (non-interleaved) not supported")
            scan = (sel, e)
        # APPn / COM / others: skipped

    if frame is None or scan is None:
        raise JpegError("missing SOF/SOS")
    h, w, comps = frame
    sel, entropy_start = scan
    for _, _, _, tq in comps:
        if tq not in qtables:
            # fail in O(headers): running the whole entropy hot loop first
            # (the entire cost of a decode) for a file that can never
            # dequantize would waste the per-item budget
            raise JpegError(f"missing quant table {tq}")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    n_mcus = mcus_x * mcus_y

    # per-component zigzag coefficient stores, (n_blocks, 64)
    blocks_wide = [mcus_x * c[1] for c in comps]
    blocks_high = [mcus_y * c[2] for c in comps]
    coefs = [np.zeros((bw * bh, 64), dtype=np.int32)
             for bw, bh in zip(blocks_wide, blocks_high)]

    spans = _entropy_spans(data, entropy_start)
    # per-MCU block order: for each component in scan order, vf x hf blocks
    block_plan = []  # (comp_idx, dc_lut, ac_lut, dy, dx)
    for comp_idx, dc_id, ac_id in sel:
        _, hf, vf, _ = comps[comp_idx]
        try:
            dc_lut = huff[(0, dc_id)].lst
            ac_lut = huff[(1, ac_id)].lst
        except KeyError as exc:
            raise JpegError(f"missing Huffman table {exc}") from exc
        for dy in range(vf):
            for dx in range(hf):
                block_plan.append((comp_idx, dc_lut, ac_lut, dy, dx))

    # --- entropy decode hot loop ---
    # Bit state lives in LOCAL ints (buf/cnt/pos/virt) and the Huffman
    # LUTs are Python lists: method calls on a reader object plus numpy
    # scalar indexing measured ~2.5x slower than this inlined form — this
    # loop is the whole cost of a JPEG decode, everything after it is
    # vectorized numpy.  Bit-stream contract: zero-pad past the stream end
    # for the final peeks, but CONSUMING more than the final byte's pad
    # bits (a truncated stream) raises — corrupt bytes must fail loudly
    # into the kernel's fault-isolation path, never decode from padding.
    preds = [0] * len(comps)
    mcu = 0
    span_idx = 0
    per_seg = restart_interval if restart_interval else n_mcus
    sdata = spans[0]
    dlen = len(sdata)
    pos = buf = cnt = virt = 0
    while mcu < n_mcus:
        if restart_interval and mcu and mcu % restart_interval == 0:
            span_idx += 1
            if span_idx >= len(spans):
                raise JpegError("missing restart segment")
            sdata = spans[span_idx]
            dlen = len(sdata)
            pos = buf = cnt = virt = 0
            preds = [0] * len(comps)
        seg_end = min(mcu + per_seg, n_mcus)
        while mcu < seg_end:
            my, mx = divmod(mcu, mcus_x)
            for comp_idx, dc_lut, ac_lut, dy, dx in block_plan:
                _, hf, vf, _ = comps[comp_idx]
                row = my * vf + dy
                col = mx * hf + dx
                tmp = [0] * 64
                # DC (fill to 16-bit peek + up to 11 magnitude bits; the
                # 4-byte batched refill halves fill overhead vs per-byte)
                if cnt < 27:
                    if pos + 4 <= dlen:
                        buf = (buf << 32) | int.from_bytes(sdata[pos : pos + 4], "big")
                        pos += 4
                        cnt += 32
                    else:
                        while cnt < 27:
                            if pos < dlen:
                                buf = (buf << 8) | sdata[pos]
                                pos += 1
                            else:
                                buf <<= 8
                                virt += 1
                            cnt += 8
                v = dc_lut[(buf >> (cnt - 16)) & 0xFFFF]
                if v == 0:
                    raise JpegError("invalid DC Huffman code")
                t = v >> 5
                if t > 11:
                    raise JpegError("bad DC magnitude category")
                cnt -= (v & 31) + t
                if virt and 8 * (pos + virt) - cnt > 8 * dlen + 7:
                    raise JpegError("entropy data exhausted (truncated stream)")
                if t:
                    mag = (buf >> cnt) & ((1 << t) - 1)
                    diff = mag if mag >= (1 << (t - 1)) else mag - (1 << t) + 1
                    preds[comp_idx] += diff
                buf &= (1 << cnt) - 1
                tmp[0] = preds[comp_idx]
                # AC
                k = 1
                while k < 64:
                    if cnt < 26:  # 16-bit peek + up to 10 magnitude bits
                        if pos + 4 <= dlen:
                            buf = (buf << 32) | int.from_bytes(
                                sdata[pos : pos + 4], "big")
                            pos += 4
                            cnt += 32
                        else:
                            while cnt < 26:
                                if pos < dlen:
                                    buf = (buf << 8) | sdata[pos]
                                    pos += 1
                                else:
                                    buf <<= 8
                                    virt += 1
                                cnt += 8
                    v = ac_lut[(buf >> (cnt - 16)) & 0xFFFF]
                    if v == 0:
                        raise JpegError("invalid AC Huffman code")
                    rs = v >> 5
                    size = rs & 0x0F
                    if size > 10:
                        # Baseline AC magnitude categories stop at 10
                        # (ITU-T T.81 F.1.2.2.1).  A crafted DHT can emit
                        # larger sizes; without this check a long code +
                        # size 11..15 can drive cnt negative and escape as
                        # a bare ValueError('negative shift count') instead
                        # of the module's JpegError contract.
                        raise JpegError("bad AC magnitude category")
                    if size == 0:
                        cnt -= v & 31
                        buf &= (1 << cnt) - 1
                        if virt and 8 * (pos + virt) - cnt > 8 * dlen + 7:
                            raise JpegError(
                                "entropy data exhausted (truncated stream)")
                        if rs >> 4 == 15:
                            k += 16  # ZRL
                            continue
                        break  # EOB
                    k += rs >> 4
                    if k > 63:
                        raise JpegError("AC run past block end")
                    cnt -= (v & 31) + size
                    if virt and 8 * (pos + virt) - cnt > 8 * dlen + 7:
                        raise JpegError(
                            "entropy data exhausted (truncated stream)")
                    mag = (buf >> cnt) & ((1 << size) - 1)
                    buf &= (1 << cnt) - 1
                    tmp[k] = (mag if mag >= (1 << (size - 1))
                              else mag - (1 << size) + 1)
                    k += 1
                coefs[comp_idx][row * blocks_wide[comp_idx] + col] = tmp
            mcu += 1

    return _assemble_image(coefs, comps, qtables, blocks_wide, blocks_high,
                           h, w, hmax, vmax)


def _assemble_image(coefs, comps, qtables, blocks_wide, blocks_high,
                    h, w, hmax, vmax) -> np.ndarray:
    """Shared back half of a JPEG decode (baseline AND progressive):
    vectorized dequant -> un-zigzag -> batched IDCT -> assemble planes.

    Memory discipline (the pixel budget is calibrated on the PNG path's
    ~3 bytes/px): IDCT math stays float64 for exactness, but assembled
    planes are stored float32, the color convert runs one CHANNEL at a
    time into a preallocated uint8 cube, and each component's
    coefficient store is freed as soon as its plane exists — peak
    allocation drops from ~5 GB to ~1.2 GB for a budget-sized (64 Mpx)
    frame."""
    planes = []
    for ci, (cid, hf, vf, tq) in enumerate(comps):
        deq = (coefs[ci] * qtables[tq][None, :]).astype(np.float64)
        coefs[ci] = None  # freed: the int32 store is 256 MB at 64 Mpx
        nat = deq[:, _UNZIGZAG].reshape(-1, 8, 8)
        del deq
        spatial = _A.T @ nat @ _A + 128.0
        del nat
        bw, bh = blocks_wide[ci], blocks_high[ci]
        plane = (
            spatial.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        # crop to this component's true size, then upsample to frame size
        cw = (w * hf + hmax - 1) // hmax
        ch = (h * vf + vmax - 1) // vmax
        plane = plane[:ch, :cw].astype(np.float32)
        del spatial
        if hf != hmax:
            plane = np.repeat(plane, hmax // hf, axis=1)
        if vf != vmax:
            plane = np.repeat(plane, vmax // vf, axis=0)
        planes.append(np.ascontiguousarray(plane[:h, :w]))

    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = planes
    cb -= np.float32(128.0)
    cr -= np.float32(128.0)
    out = np.empty((h, w, 3), dtype=np.uint8)

    def store(c: int, tmp: np.ndarray) -> None:
        np.round(tmp, out=tmp)
        np.clip(tmp, 0, 255, out=tmp)
        out[:, :, c] = tmp

    # one channel temp alive at a time (lazy: each expression allocates
    # only inside its store call)
    store(0, y + np.float32(1.402) * cr)
    store(1, y - np.float32(0.344136) * cb - np.float32(0.714136) * cr)
    store(2, y + np.float32(1.772) * cb)
    return out


# ---------------------------------------------------------------------------
# encoder (fixture synthesis — the container has no other JPEG producer)
# ---------------------------------------------------------------------------


class _BitWriter:
    __slots__ = ("out", "buf", "cnt")

    def __init__(self) -> None:
        self.out = bytearray()
        self.buf = 0
        self.cnt = 0

    def write(self, code: int, nbits: int) -> None:
        self.buf = (self.buf << nbits) | (code & ((1 << nbits) - 1))
        self.cnt += nbits
        while self.cnt >= 8:
            self.cnt -= 8
            b = (self.buf >> self.cnt) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.buf &= (1 << self.cnt) - 1

    def flush(self) -> None:
        if self.cnt:
            pad = 8 - self.cnt
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec


def _size_cat(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(wr: _BitWriter, zz: np.ndarray, pred: int,
                  dc_codes, ac_codes) -> int:
    dc = int(zz[0])
    diff = dc - pred
    t = _size_cat(diff)
    code, ln = dc_codes[t]
    wr.write(code, ln)
    if t:
        wr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 63
    while last_nz > 0 and zz[last_nz] == 0:
        last_nz -= 1
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            wr.write(code, ln)
            run -= 16
        size = _size_cat(v)
        code, ln = ac_codes[(run << 4) | size]
        wr.write(code, ln)
        wr.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        wr.write(code, ln)
    return dc


def _fdct_quant(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """(bh*8, bw*8) float plane -> (n_blocks, 64) zigzag quantized ints."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    F = _A @ blocks @ _A.T
    q = np.round(F.reshape(-1, 64) / qt[None, :]).astype(np.int64)
    # Annex-K AC tables carry magnitude categories up to 10 bits (DC 11):
    # clamp so every symbol the encoder emits exists in the shipped tables
    q = np.clip(q, -1023, 1023)
    return q[:, ZIGZAG]


def _pad_to(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    h, w = plane.shape
    ph = (mh - h % mh) % mh
    pw = (mw - w % mw) % mw
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


_SUBSAMPLING = {"444": (1, 1), "420": (2, 2), "422": (2, 1), "440": (1, 2)}


def encode_jpeg(img: np.ndarray, quality: int = 90, subsampling: str = "444",
                restart_interval: int = 0) -> bytes:
    """Encode HxW (gray) or HxWx3 (RGB) uint8 as baseline JPEG bytes.

    ``subsampling``: '444', '420', '422' or '440' (luma sampling factors
    relative to chroma).  Gray input emits a single-component frame
    regardless of ``subsampling``.
    """
    if img.dtype != np.uint8:
        raise JpegError(f"expected uint8, got {img.dtype}")
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise JpegError(f"unsupported shape {img.shape}")
    if subsampling not in _SUBSAMPLING:
        raise JpegError(f"unsupported subsampling {subsampling}")
    h, w = img.shape[:2]
    if h <= 0 or w <= 0 or h > 0xFFFF or w > 0xFFFF:
        raise JpegError("bad dimensions")
    qt_l, qt_c = _quality_tables(quality)

    if gray:
        y = img.astype(np.float64) - 128.0
        planes = [( _pad_to(y, 8, 8), qt_l)]
        factors = [(1, 1)]
    else:
        rgb = img.astype(np.float64)
        y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        cb = -0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] + 0.5 * rgb[:, :, 2]
        cr = 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] - 0.081312 * rgb[:, :, 2]
        sx, sy = _SUBSAMPLING[subsampling]
        yp = _pad_to(y - 128.0, 8 * sy, 8 * sx)
        chroma = []
        for c in (cb, cr):
            cp = _pad_to(c, 8 * sy, 8 * sx)
            if sx > 1 or sy > 1:  # box-average downsample on the padded grid
                cp = cp.reshape(cp.shape[0] // sy, sy, cp.shape[1] // sx, sx).mean(
                    axis=(1, 3)
                )
            chroma.append(cp)
        planes = [(yp, qt_l), (chroma[0], qt_c), (chroma[1], qt_c)]
        factors = [(sx, sy), (1, 1), (1, 1)]

    zz = [ _fdct_quant(p, qt) for p, qt in planes ]
    bwides = [p.shape[1] // 8 for p, _ in planes]

    # --- headers ---
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    def dqt(tid: int, t: np.ndarray) -> bytes:
        return b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(int(v) for v in t)

    out += dqt(0, qt_l)
    if not gray:
        out += dqt(1, qt_c)

    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i in range(nc):
        hf, vf = factors[i]
        sof += bytes([i + 1, (hf << 4) | vf, 0 if i == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += dht(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += dht(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)

    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    sos = bytes([nc])
    for i in range(nc):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # --- entropy-coded data ---
    dc_l = _canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_l = _canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
    tables = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (nc - 1)

    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcus_x = planes[0][0].shape[1] // (8 * hmax)
    mcus_y = planes[0][0].shape[0] // (8 * vmax)

    wr = _BitWriter()
    preds = [0] * nc
    rst = 0
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            wr.flush()
            wr.out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            preds = [0] * nc
        my, mx = divmod(mcu, mcus_x)
        for ci in range(nc):
            hf, vf = factors[ci]
            for dy in range(vf):
                for dx in range(hf):
                    row = my * vf + dy
                    col = mx * hf + dx
                    blk = zz[ci][row * bwides[ci] + col]
                    preds[ci] = _encode_block(wr, blk, preds[ci],
                                              tables[ci][0], tables[ci][1])
    wr.flush()
    out += wr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
