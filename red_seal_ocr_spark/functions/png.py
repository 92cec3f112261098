"""Minimal deterministic PNG codec (pure numpy + stdlib zlib).

The reference decodes images with PIL/OpenCV (``src/preprocess.py:335-361``,
``util/image_downloader.py:84-96``).  Neither library exists in this
environment, so the engine carries its own small codec: 8-bit RGB (color
type 2) and 8-bit grayscale (color type 0), plain or Adam7-interlaced.
The encoders always emit filter 0 scanlines; the decoder understands all
five standard filters so externally produced PNGs also decode.

Decode failures raise ``PngError`` — the kernel maps that to the
per-item fault-isolation path (failure counted, span passed through
unchanged; reference analog ``main.py:132-137``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


class PngError(ValueError):
    """Raised on malformed or unsupported PNG input."""


class PngTooLarge(PngError):
    """Image exceeds the per-item pixel budget (detected from the header,
    before any inflate work).  Subclasses PngError so generic decode-failure
    handling still applies; the kernel catches it first to report
    failure_kind='too_large' in lineage."""


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Encode HxW (gray) or HxWx3 (RGB) uint8 array as PNG bytes."""
    if img.dtype != np.uint8:
        raise PngError(f"expected uint8, got {img.dtype}")
    if img.ndim == 2:
        color_type, channels = 0, 1
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, channels = 2, 3
    else:
        raise PngError(f"unsupported shape {img.shape}")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # filter byte 0 prepended to every scanline
    raw = np.empty((h, 1 + w * channels), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = img.reshape(h, w * channels)
    # level 1: measured 2x faster deflate and 1.8x faster inflate than
    # level 6 on seal canvases (6 KB -> 17 KB per image, irrelevant);
    # decode sits in the kernel's hot path
    idat = zlib.compress(raw.tobytes(), level=1)
    return _SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


# Adam7 pass geometry: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _adam7_passes(h: int, w: int):
    """Per-pass (x0, y0, dx, dy, pass_w, pass_h); empty passes have 0."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = max(0, (w - x0 + dx - 1) // dx)
        ph = max(0, (h - y0 + dy - 1) // dy)
        out.append((x0, y0, dx, dy, pw, ph))
    return out


def encode_png_interlaced(img: np.ndarray) -> bytes:
    """Encode HxW (gray) or HxWx3 (RGB) uint8 as Adam7-interlaced PNG
    (fixture synthesis — real crawls contain interlaced files; PIL in the
    reference handles them transparently)."""
    if img.dtype != np.uint8:
        raise PngError(f"expected uint8, got {img.dtype}")
    if img.ndim == 2:
        color_type, channels = 0, 1
        img3 = img[:, :, None]
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, channels = 2, 3
        img3 = img
    else:
        raise PngError(f"unsupported shape {img.shape}")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
    parts = []
    for x0, y0, dx, dy, pw, ph in _adam7_passes(h, w):
        if pw == 0 or ph == 0:
            continue
        sub = img3[y0::dy, x0::dx]
        raw = np.zeros((ph, 1 + pw * channels), dtype=np.uint8)
        raw[:, 1:] = sub.reshape(ph, pw * channels)
        parts.append(raw.tobytes())
    idat = zlib.compress(b"".join(parts), level=1)
    return _SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _deinterlace(decompressed: bytes, h: int, w: int, channels: int) -> np.ndarray:
    """Adam7 reassembly: unfilter each pass's own scanlines (filters are
    per-pass — the previous scanline is the previous scanline of the SAME
    pass), then write pass pixels to their final grid positions.
    Returns the (h, w, channels) pixel array."""
    out = np.empty((h, w, channels), dtype=np.uint8)
    off = 0
    buf = memoryview(decompressed)
    for x0, y0, dx, dy, pw, ph in _adam7_passes(h, w):
        if pw == 0 or ph == 0:
            continue
        n = ph * (1 + pw * channels)
        sub = np.frombuffer(buf[off : off + n], dtype=np.uint8).reshape(
            ph, 1 + pw * channels)
        off += n
        if np.all(sub[:, 0] == 0):
            px = sub[:, 1:]
        else:
            px = _unfilter(sub, ph, pw, channels)
        out[y0::dy, x0::dx] = px.reshape(ph, pw, channels)
    return out


def _unfilter(raw: np.ndarray, h: int, w: int, channels: int) -> np.ndarray:
    """Undo per-scanline PNG filters. raw is h x (1 + w*channels)."""
    stride = w * channels
    bpp = channels
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, dtype=np.int32)
        if ftype == 0:
            out[y] = line.astype(np.uint8)
        elif ftype == 2:  # Up
            out[y] = ((line + prev) & 0xFF).astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(out[y - 1, x - bpp]) if (y > 0 and x >= bpp) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
            out[y] = cur.astype(np.uint8)
        else:
            raise PngError(f"unknown filter {ftype}")
    return out


def decode_png(data: bytes, max_pixels: int = 64_000_000) -> np.ndarray:
    """Decode PNG bytes to a C-contiguous HxWx3 uint8 RGB array (gray is
    broadcast to three channels).

    ``max_pixels`` is the per-item cost budget: header dimensions above it
    raise :class:`PngTooLarge` before any inflate work, and the inflate
    itself is bounded to the header-implied byte count.
    """
    if not isinstance(data, (bytes, bytearray)) or len(data) < 8:
        raise PngError("too short")
    if bytes(data[:8]) != _SIGNATURE:
        raise PngError("bad signature")
    pos = 8
    ihdr = None
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = bytes(data[pos + 4 : pos + 8])
        payload_end = pos + 8 + length
        if payload_end + 4 > n:
            raise PngError("truncated chunk")
        payload = bytes(data[pos + 8 : payload_end])
        (crc,) = struct.unpack(">I", data[payload_end : payload_end + 4])
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise PngError(f"bad crc in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos = payload_end + 4
    else:
        raise PngError("missing IEND")
    if ihdr is None:
        raise PngError("missing IHDR")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace not in (0, 1):
        raise PngError("unsupported IHDR")
    if color_type == 2:
        channels = 3
    elif color_type == 0:
        channels = 1
    else:
        raise PngError(f"unsupported color type {color_type}")
    if w <= 0 or h <= 0:
        raise PngError("bad dimensions")
    if w * h > max_pixels:
        # raised BEFORE any inflate work: the per-item cost budget.  A
        # pathological header (decompression bomb, absurd dimensions) is
        # rejected in O(header) time, so one bad item can never stall a
        # task (reference reinit-on-hang analog, src/ocr_pool.py:56-98).
        raise PngTooLarge(f"{w}x{h} exceeds pixel budget {max_pixels}")
    if interlace:
        # Adam7: the stream is 7 sub-images, each with its own scanlines
        expected = sum(ph * (1 + pw * channels)
                       for _, _, _, _, pw, ph in _adam7_passes(h, w)
                       if pw and ph)
    else:
        expected = h * (1 + w * channels)
    try:
        # bounded inflate: never materialize more than expected+1 bytes no
        # matter what the stream claims (zlib-bomb guard)
        d = zlib.decompressobj()
        decompressed = d.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:  # pragma: no cover - exercised via corrupt fixtures
        raise PngError(f"zlib: {exc}") from exc
    if len(decompressed) != expected:
        raise PngError("bad data length")
    if interlace:
        px = _deinterlace(decompressed, h, w, channels)
    else:
        raw = np.frombuffer(decompressed, dtype=np.uint8).reshape(h, 1 + w * channels)
        if np.all(raw[:, 0] == 0):
            px = np.ascontiguousarray(raw[:, 1:]).reshape(h, w, channels)
        else:
            px = _unfilter(raw, h, w, channels).reshape(h, w, channels)
    return np.repeat(px, 3, axis=2) if channels == 1 else px
