"""The engine's native shim: one C source, compiled once per host.

Three hot loops that numpy cannot express in one pass live here as C,
called through ctypes:

- :func:`decode_jpeg` -- JPEG decode through the system libjpeg.  Entropy
  decode is the whole cost of a JPEG in ``jpeg.py`` /
  ``jpeg_progressive.py``: on a 4-core VM, ~270 ms per baseline and
  ~690 ms per progressive ~0.75-Mpx image, against 3.5 and 13 ms here.
- :func:`red_mask` -- the kernel's fused HSV dual-band red mask (F2/F3)
  in one pass over the frame, with no temporaries beyond the ``HxW``
  bool output.
- :func:`png_unfilter` -- PNG scanline unfiltering (Sub, Up, Average,
  Paeth), sequential in x and so a per-pixel loop in Python.

The source below is compiled on first use with the system C compiler
against the system ``jpeglib.h`` / libjpeg and cached as
``${XDG_CACHE_HOME:-~/.cache}/red_seal_ocr_spark/native-<hash>.so``,
keyed by a hash of its source and compiler flags.  The C source lives in
this module, so a ``--py-files`` zip carries it; the compiled library is
built per host.  Concurrent workers may build at once: each writes its
own temp file and ``os.replace`` publishes it atomically.  Where the
compiler, the header or the library is missing, the build fails once
per process with one ``RuntimeWarning``, and every caller runs its numpy
fallback: ``jpeg.decode_jpeg``, ``imageops.rgb_red_mask``'s numpy path,
``png._unfilter``'s Python loop.

The JPEG decoder accepts exactly what ``jpeg.decode_jpeg`` accepts: 8-bit
Huffman-coded baseline / extended / progressive frames with 1 or 3
components and sampling factors 1-2, 3 components always read as YCbCr.
It rejects arithmetic coding, other precisions and component counts,
checks ``max_pixels`` on the header dimensions before any entropy work,
and treats every libjpeg warning (corrupt data, premature end of file) as
an error.  Pixels use libjpeg's integer IDCT (``JDCT_ISLOW``) and its
default smooth chroma upsampling, as PIL does in the reference.  On
q100 4:4:4 input they are within 2 levels of ``jpeg.py``'s exact float
IDCT; on chroma-subsampled input they differ more at sharp colour edges,
where ``jpeg.py`` replicates chroma samples.

The red mask and the unfilter are bit-identical to their numpy
fallbacks: the unfilter is integer arithmetic, and the mask computes hue
in float32 in numpy's exact operation order, built with
``-fno-fast-math -ffp-contract=off`` so no step is reordered or fused.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import shutil
import subprocess
import tempfile
import warnings

import numpy as np

from . import jpeg

__all__ = ["decode_jpeg", "png_unfilter", "red_mask"]

_SOURCE = r"""
#include <math.h>
#include <setjmp.h>
#include <stddef.h>
#include <stdio.h>
#include <stdlib.h>
#include <string.h>
#include <jpeglib.h>

struct rso_err {
    struct jpeg_error_mgr pub;
    jmp_buf jump;
    char *msg;
};

static void rso_error_exit(j_common_ptr cinfo) {
    struct rso_err *err = (struct rso_err *)cinfo->err;
    (*cinfo->err->format_message)(cinfo, err->msg);
    longjmp(err->jump, 1);
}

/* warnings (level -1: corrupt data, premature EOF) abort the decode;
   trace messages are dropped, so nothing is ever printed */
static void rso_emit_message(j_common_ptr cinfo, int level) {
    if (level < 0)
        rso_error_exit(cinfo);
}

/* jpeg.py checks the budget as soon as it parses SOF, so an 8-bit frame
   over budget is "too large" even when a later header or the entropy
   data is broken; image_width stays 0 until libjpeg has read SOF */
static int rso_over_budget(j_decompress_ptr cinfo, long long max_pixels,
                           char *msg) {
    if (cinfo->data_precision != 8 ||
        (long long)cinfo->image_width * cinfo->image_height <= max_pixels)
        return 0;
    sprintf(msg, "%ux%u exceeds pixel budget %lld",
            cinfo->image_width, cinfo->image_height, max_pixels);
    return 1;
}

/* 0 = ok, 1 = decode error (msg set), 2 = over the pixel budget.
   With out == NULL only the header is read and *h, *w are set; with a
   buffer, *h x *w x 3 bytes must match the frame or the call fails. */
int rso_jpeg_decode(const unsigned char *buf, unsigned long len,
                    long long max_pixels, unsigned char *out,
                    int *h, int *w, char *msg) {
    struct jpeg_decompress_struct cinfo;
    struct rso_err err;
    int rc = 1;

    memset(&cinfo, 0, sizeof cinfo);
    cinfo.err = jpeg_std_error(&err.pub);
    err.pub.error_exit = rso_error_exit;
    err.pub.emit_message = rso_emit_message;
    err.msg = msg;
    msg[0] = 0;
    if (setjmp(err.jump)) {
        int too_large = rso_over_budget(&cinfo, max_pixels, msg);
        jpeg_destroy_decompress(&cinfo);
        return too_large ? 2 : 1;
    }
    jpeg_create_decompress(&cinfo);
    jpeg_mem_src(&cinfo, (unsigned char *)buf, len);
    jpeg_read_header(&cinfo, TRUE);

    if (cinfo.arith_code) {
        strcpy(msg, "arithmetic coding not supported");
        goto done;
    }
    if (cinfo.data_precision != 8) {
        sprintf(msg, "unsupported sample precision %d", cinfo.data_precision);
        goto done;
    }
    if (rso_over_budget(&cinfo, max_pixels, msg)) {
        rc = 2;
        goto done;
    }
    if (cinfo.num_components != 1 && cinfo.num_components != 3) {
        sprintf(msg, "unsupported component count %d", cinfo.num_components);
        goto done;
    }
    for (int c = 0; c < cinfo.num_components; c++) {
        jpeg_component_info *ci = &cinfo.comp_info[c];
        if (ci->h_samp_factor > 2 || ci->v_samp_factor > 2) {
            sprintf(msg, "unsupported sampling %dx%d",
                    ci->h_samp_factor, ci->v_samp_factor);
            goto done;
        }
    }
    if (out == NULL) {
        *h = (int)cinfo.image_height;
        *w = (int)cinfo.image_width;
        rc = 0;
        goto done;
    }
    if ((int)cinfo.image_height != *h || (int)cinfo.image_width != *w) {
        strcpy(msg, "frame size changed between calls");
        goto done;
    }

    cinfo.jpeg_color_space = cinfo.num_components == 3 ? JCS_YCbCr : JCS_GRAYSCALE;
    cinfo.out_color_space = JCS_RGB;
    cinfo.dct_method = JDCT_ISLOW;
    jpeg_start_decompress(&cinfo);
    size_t stride = (size_t)cinfo.output_width * 3;
    while (cinfo.output_scanline < cinfo.output_height) {
        JSAMPROW row = out + (size_t)cinfo.output_scanline * stride;
        jpeg_read_scanlines(&cinfo, &row, 1);
    }
    jpeg_finish_decompress(&cinfo);
    rc = 0;
done:
    jpeg_destroy_decompress(&cinfo);
    return rc;
}

/* Fused dual-band red mask over an h x w RGB uint8 frame with byte
   strides sy (row), sx (pixel), sc (channel); out is h x w bytes, 0/1.
   A pixel passes the S/V thresholds when min(R,G,B) <= lut[max(R,G,B)]
   (imageops._max_min_lut, int16, -1 where nothing passes); only then is
   its hue computed, following the float32 expressions of
   imageops.rgb_to_hsv_cv operation by operation, so the mask is
   bit-identical to red_mask(rgb_to_hsv_cv(img), ...) for any bands. */
void rso_red_mask(const unsigned char *img, long h, long w,
                  ptrdiff_t sy, ptrdiff_t sx, ptrdiff_t sc,
                  const short *lut, int b1lo, int b1hi,
                  int b2lo, int b2hi, unsigned char *out) {
    for (long y = 0; y < h; y++) {
        const unsigned char *p = img + y * sy;
        unsigned char *o = out + y * w;
        for (long x = 0; x < w; x++, p += sx) {
            int r = p[0], g = p[sc], b = p[2 * sc];
            int v = r > g ? (r > b ? r : b) : (g > b ? g : b);
            int mn = r < g ? (r < b ? r : b) : (g < b ? g : b);
            unsigned char hit = 0;
            if (mn <= lut[v]) {
                int h8 = 0;
                if (v != mn) {
                    float delta = (float)v - (float)mn, hue;
                    if (v == r)
                        hue = 60.0f * ((float)g - (float)b) / delta;
                    else if (v == g)
                        hue = 120.0f + 60.0f * ((float)b - (float)r) / delta;
                    else
                        hue = 240.0f + 60.0f * ((float)r - (float)g) / delta;
                    if (hue < 0.0f)
                        hue = hue + 360.0f;
                    hue = hue / 2.0f;
                    h8 = (int)floorf(hue + 0.5f) % 180;
                }
                hit = (h8 >= b1lo && h8 <= b1hi) || (h8 >= b2lo && h8 <= b2hi);
            }
            o[x] = hit;
        }
    }
}

/* Undo PNG scanline filters: raw is h rows of 1 + stride bytes (filter
   type first), bpp the bytes per pixel.  out is h + 1 rows of stride
   bytes whose first row is zero, the row above the first scanline; row
   y + 1 gets scanline y.  The first bpp bytes of a row have a = c = 0,
   where Average predicts b >> 1 and Paeth predicts b.  Returns -1, or
   the first row whose filter type is unknown. */
long rso_png_unfilter(const unsigned char *raw, long h, long stride,
                      long bpp, unsigned char *out) {
    long n = bpp < stride ? bpp : stride, x;
    for (long y = 0; y < h; y++) {
        const unsigned char *line = raw + y * (stride + 1) + 1;
        const unsigned char *prev = out + y * stride;
        unsigned char *cur = out + (y + 1) * stride;
        switch (line[-1]) {
        case 0:
            memcpy(cur, line, (size_t)stride);
            break;
        case 1:
            memcpy(cur, line, (size_t)n);
            for (x = bpp; x < stride; x++)
                cur[x] = (unsigned char)(line[x] + cur[x - bpp]);
            break;
        case 2:
            for (x = 0; x < stride; x++)
                cur[x] = (unsigned char)(line[x] + prev[x]);
            break;
        case 3:
            for (x = 0; x < n; x++)
                cur[x] = (unsigned char)(line[x] + (prev[x] >> 1));
            for (x = bpp; x < stride; x++)
                cur[x] = (unsigned char)(line[x] + ((cur[x - bpp] + prev[x]) >> 1));
            break;
        case 4:
            for (x = 0; x < n; x++)
                cur[x] = (unsigned char)(line[x] + prev[x]);
            for (x = bpp; x < stride; x++) {
                int a = cur[x - bpp], b = prev[x], c = prev[x - bpp];
                int pa = abs(b - c), pb = abs(a - c), pc = abs(a + b - 2 * c);
                cur[x] = (unsigned char)(line[x] + (pa <= pb && pa <= pc ? a : pb <= pc ? b : c));
            }
            break;
        default:
            return y;
        }
    }
    return -1;
}
"""

# ctypes.CDLL once loaded, False once the build failed, None before the
# first call: a process-wide resource, loaded lazily so sessions and jobs
# that decode no image never pay for it
_lib = None

# -fno-fast-math / -ffp-contract=off: the red mask's float32 hue must
# round exactly as numpy's does (no reassociation, no fused multiply-add)
_CFLAGS = ["-O2", "-fno-fast-math", "-ffp-contract=off", "-shared", "-fPIC"]

_P = ctypes.c_void_p
_L = ctypes.c_long
_SIGNATURES = {
    "rso_jpeg_decode": ([ctypes.c_char_p, ctypes.c_ulong, ctypes.c_longlong, _P,
                         ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
                         ctypes.c_char_p], ctypes.c_int),
    "rso_red_mask": ([_P, _L, _L, ctypes.c_ssize_t, ctypes.c_ssize_t, ctypes.c_ssize_t,
                      _P, ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_int, _P],
                     None),
    "rso_png_unfilter": ([_P, _L, _L, _L, _P], _L),
}


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "red_seal_ocr_spark")


def _build() -> str:
    """Path of the compiled shim, compiling it first if it is not cached."""
    key = hashlib.sha256(
        (_SOURCE + " ".join(_CFLAGS) + platform.machine()).encode()
    ).hexdigest()[:16]
    out_dir = _cache_dir()
    path = os.path.join(out_dir, f"native-{key}.so")
    if os.path.exists(path):
        return path
    cc = shutil.which("gcc") or shutil.which("cc")
    if cc is None:
        raise OSError("no C compiler on PATH")
    os.makedirs(out_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(suffix=".so", dir=out_dir)
    os.close(fd)
    try:
        proc = subprocess.run(
            [cc, *_CFLAGS, "-x", "c", "-", "-o", tmp, "-ljpeg", "-lm"],
            input=_SOURCE.encode(), capture_output=True, timeout=120,
        )
        if proc.returncode != 0:
            raise OSError(proc.stderr.decode(errors="replace").strip()[-500:])
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return path


def _load(path: str) -> ctypes.CDLL:
    lib = ctypes.CDLL(path)
    for name, (argtypes, restype) in _SIGNATURES.items():
        fn = getattr(lib, name)
        fn.argtypes = argtypes
        fn.restype = restype
    return lib


def _library():
    """The loaded shim, or None when it cannot be built or loaded here."""
    global _lib
    if _lib is None:
        try:
            _lib = _load(_build())
        except (OSError, AttributeError, subprocess.SubprocessError) as exc:
            warnings.warn(
                f"native shim unavailable, running the numpy fallbacks: {exc}",
                RuntimeWarning, stacklevel=3,
            )
            _lib = False
    return _lib or None


def red_mask(img: np.ndarray, lut: np.ndarray, band1: tuple[int, int],
             band2: tuple[int, int]) -> np.ndarray | None:
    """``HxW`` bool red mask of an ``HxWxC`` (C >= 3) uint8 RGB view, in
    one pass; ``lut`` is ``imageops._max_min_lut``.  None when the shim
    is unavailable or ``img`` is not a uint8 frame: the caller then runs
    the numpy path."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] < 3:
        return None
    lib = _library()
    if lib is None:
        return None
    h, w = img.shape[:2]
    out = np.empty((h, w), dtype=bool)
    lib.rso_red_mask(img.ctypes.data, h, w, *img.strides, lut.ctypes.data,
                     *map(int, (*band1, *band2)), out.ctypes.data)
    return out


def png_unfilter(raw: np.ndarray, bpp: int) -> np.ndarray | None:
    """Unfiltered ``h x (w * bpp)`` rows of the filtered scanlines ``raw``
    (``h x (1 + w * bpp)``, filter type first).  Raises ``png.PngError``
    on an unknown filter type; None when the shim is unavailable."""
    lib = _library()
    if lib is None:
        return None
    raw = np.ascontiguousarray(raw)
    h, stride = raw.shape[0], raw.shape[1] - 1
    out = np.zeros((h + 1, stride), dtype=np.uint8)
    bad = lib.rso_png_unfilter(raw.ctypes.data, h, stride, bpp, out.ctypes.data)
    if bad >= 0:
        from .png import PngError  # png imports this module

        raise PngError(f"unknown filter {raw[bad, 0]}")
    return out[1:]


def decode_jpeg(data: bytes, max_pixels: int = 64_000_000) -> np.ndarray:
    """Decode JPEG bytes to an HxWx3 uint8 RGB array.

    Same contract as ``jpeg.decode_jpeg``: raises ``jpeg.JpegTooLarge``
    when the header dimensions exceed ``max_pixels`` and
    ``jpeg.JpegError`` on anything malformed or unsupported.
    """
    lib = _library()
    if lib is None:
        return jpeg.decode_jpeg(data, max_pixels)
    data = bytes(data)
    h, w = ctypes.c_int(0), ctypes.c_int(0)
    msg = ctypes.create_string_buffer(256)  # >= libjpeg's JMSG_LENGTH_MAX

    def call(out) -> None:
        rc = lib.rso_jpeg_decode(data, len(data), max_pixels, out,
                                 ctypes.byref(h), ctypes.byref(w), msg)
        if rc == 2:
            raise jpeg.JpegTooLarge(msg.value.decode(errors="replace"))
        if rc != 0:
            raise jpeg.JpegError(msg.value.decode(errors="replace"))

    call(None)
    arr = np.empty((h.value, w.value, 3), dtype=np.uint8)
    call(arr.ctypes.data)
    return arr
