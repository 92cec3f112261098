"""Minimal BMP codec (24-bit uncompressed BI_RGB, pure numpy + struct).

The reference accepts ``bmp`` uploads alongside png/jpg
(``main.py:218-226``); this module completes the S2 format surface.
Decoder handles BITMAPINFOHEADER (40) and the larger V4/V5 headers,
bottom-up and top-down row order, and 8-bit grayscale-palette images;
encoder emits the plain 24-bit bottom-up form.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["BmpError", "BmpTooLarge", "decode_bmp", "encode_bmp"]


class BmpError(ValueError):
    """Raised on malformed or unsupported BMP input."""


class BmpTooLarge(BmpError):
    """Image exceeds the per-item pixel budget (header check)."""


def encode_bmp(img: np.ndarray) -> bytes:
    """Encode HxW (gray) or HxWx3 (RGB) uint8 as 24-bit BMP bytes."""
    if img.dtype != np.uint8:
        raise BmpError(f"expected uint8, got {img.dtype}")
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    if img.ndim != 3 or img.shape[2] != 3:
        raise BmpError(f"unsupported shape {img.shape}")
    h, w = img.shape[:2]
    row_bytes = (w * 3 + 3) & ~3  # 4-byte aligned
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    pixel_data = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data),
                       2835, 2835, 0, 0)
    return header + info + pixel_data


def decode_bmp(data: bytes, max_pixels: int = 64_000_000) -> np.ndarray:
    """Decode BMP bytes to an HxWx3 uint8 RGB array.

    ``max_pixels`` raises :class:`BmpTooLarge` from the header, before the
    pixel array is touched (per-item cost budget, png.py analog).
    """
    data = bytes(data)
    if len(data) < 54 or data[:2] != b"BM":
        raise BmpError("bad signature")
    (_, _, _, _, offset) = struct.unpack("<2sIHHI", data[:14])
    (hdr_size, w, h_signed, planes, bpp, compression) = struct.unpack(
        "<IiiHHI", data[14:34]
    )
    if hdr_size < 40:
        raise BmpError(f"unsupported header size {hdr_size}")
    if planes != 1 or compression != 0:
        raise BmpError("unsupported BMP variant")
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    if w <= 0 or h <= 0:
        raise BmpError("bad dimensions")
    if w * h > max_pixels:
        raise BmpTooLarge(f"{w}x{h} exceeds pixel budget {max_pixels}")
    if bpp == 24:
        row_bytes = (w * 3 + 3) & ~3
        need = offset + row_bytes * h
        if len(data) < need:
            raise BmpError("truncated pixel array")
        rows = np.frombuffer(data, dtype=np.uint8, count=row_bytes * h,
                             offset=offset).reshape(h, row_bytes)
        bgr = rows[:, : w * 3].reshape(h, w, 3)
        if not top_down:
            bgr = bgr[::-1]
        # BGR -> RGB one plane at a time (a reversed-channel view copies
        # element by element)
        img = np.empty((h, w, 3), dtype=np.uint8)
        for c in range(3):
            img[:, :, c] = bgr[:, :, 2 - c]
        return img
    if bpp == 8:
        palette_off = 14 + hdr_size
        n_colors = struct.unpack("<I", data[46:50])[0] or 256
        pal_end = palette_off + 4 * n_colors
        if len(data) < pal_end:
            raise BmpError("truncated palette")
        pal = np.frombuffer(data, dtype=np.uint8, count=4 * n_colors,
                            offset=palette_off).reshape(n_colors, 4)[:, 2::-1]
        if n_colors < 256:
            # pixel indices are unvalidated bytes: pad the palette so an
            # index >= biClrUsed decodes as black instead of escaping as
            # IndexError (the decode contract allows only BmpError)
            pal = np.vstack([pal, np.zeros((256 - n_colors, 3), np.uint8)])
        row_bytes = (w + 3) & ~3
        need = offset + row_bytes * h
        if len(data) < need:
            raise BmpError("truncated pixel array")
        idx = np.frombuffer(data, dtype=np.uint8, count=row_bytes * h,
                            offset=offset).reshape(h, row_bytes)[:, :w]
        return pal[idx if top_down else idx[::-1]]
    raise BmpError(f"unsupported bpp {bpp}")
