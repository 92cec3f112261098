"""Format-sniffing image decode dispatch (PNG / JPEG / BMP).

The reference accepts ``jpg/jpeg/png/bmp`` (``main.py:218-226``) and lets
PIL/OpenCV sniff the container (``src/preprocess.py:335-361``).  This
module is the engine's equivalent: magic-byte sniff, per-format decoder,
one unified error surface for the kernel's fault-isolation path:

- :class:`ImageTooLarge` — per-item pixel budget breached, detected from
  the format header in O(header) time (lineage ``failure_kind='too_large'``)
- :class:`ImageDecodeError` — anything else malformed/unsupported
  (lineage ``failure_kind='decode_error'``)

Every decoder returns the whole frame as one C-contiguous ``HxWx3`` uint8
array, wrapped in :class:`DecodedImage`.  JPEG goes through the system
libjpeg (``native.py``'s shim, the same library family PIL uses) and falls
back to the pure-numpy ``jpeg.py`` where no C compiler or libjpeg is
available.
"""

from __future__ import annotations

import numpy as np

from .bmp import BmpError, BmpTooLarge, decode_bmp
from .jpeg import JpegError, JpegTooLarge
from .native import decode_jpeg
from .png import PngError, PngTooLarge, decode_png

__all__ = [
    "ImageDecodeError",
    "ImageTooLarge",
    "decode_image_lazy",
    "sniff_format",
]


class ImageDecodeError(ValueError):
    """Unified decode failure (malformed/unsupported/unknown format)."""


class ImageTooLarge(ImageDecodeError):
    """Unified per-item pixel-budget breach (header-time check)."""


class DecodedImage:
    """A decoded frame: its size from ``.h``/``.w``, its pixels from
    ``.full()``."""

    __slots__ = ("arr", "h", "w")

    def __init__(self, arr: np.ndarray) -> None:
        self.arr = arr
        self.h, self.w = arr.shape[:2]

    def full(self) -> np.ndarray:
        return self.arr


def sniff_format(data: bytes) -> str | None:
    """'png' | 'jpeg' | 'bmp' | None from magic bytes."""
    if len(data) >= 8 and data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if len(data) >= 3 and data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if len(data) >= 2 and data[:2] == b"BM":
        return "bmp"
    return None


def decode_image_lazy(data: bytes, max_pixels: int = 64_000_000):
    """Sniff + decode to a :class:`DecodedImage` (``.h .w .full()``).

    The decode is complete when this returns; "lazy" in the name is
    historical.  The name and the wrapper stay because they are the decode
    seam that the layer profiler (``perfbench/trace.py``) patches on
    ``functions.kernel``: it reads ``.h``/``.w`` and books ``.full()``
    as decode time.

    Raises :class:`ImageTooLarge` (budget) or :class:`ImageDecodeError`.
    """
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise ImageDecodeError("not bytes")
    data = bytes(data)
    fmt = sniff_format(data)
    import struct

    try:
        if fmt == "png":
            return DecodedImage(decode_png(data, max_pixels))
        if fmt == "jpeg":
            return DecodedImage(decode_jpeg(data, max_pixels))
        if fmt == "bmp":
            return DecodedImage(decode_bmp(data, max_pixels))
    except (PngTooLarge, JpegTooLarge, BmpTooLarge) as exc:
        raise ImageTooLarge(str(exc)) from exc
    except (PngError, JpegError, BmpError) as exc:
        raise ImageDecodeError(str(exc)) from exc
    except (struct.error, IndexError, ValueError, OverflowError) as exc:
        # defense in depth: NO exception a decoder hits on untrusted bytes
        # may escape the decode contract (a corrupt blob must become a
        # counted failure, never a dead Spark task).  The codecs validate
        # their headers and raise typed errors; this net catches whatever
        # a fuzzer has not found yet.
        raise ImageDecodeError(f"malformed {fmt}: {type(exc).__name__}: {exc}") from exc
    raise ImageDecodeError("unknown image format")
