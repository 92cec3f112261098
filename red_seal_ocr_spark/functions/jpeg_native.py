"""JPEG decode through the system libjpeg (ctypes over a small C shim).

Entropy decode is the whole cost of a JPEG in ``jpeg.py`` /
``jpeg_progressive.py``: on a 4-core VM, ~270 ms per baseline and ~690 ms
per progressive ~0.75-Mpx image, against 3.5 and 13 ms here.  The shim
below is compiled on first use with the system C compiler against the
system ``jpeglib.h`` / libjpeg and cached as ``${XDG_CACHE_HOME:-~/.cache}/red_seal_ocr_spark/
jpeg_native-<hash>.so``, keyed by a hash of its source.  The C source
lives in this module, so a ``--py-files`` zip carries it; the compiled
library is built per host.  Concurrent workers may build at once: each
writes its own temp file and ``os.replace`` publishes it atomically.

The shim accepts exactly what ``jpeg.decode_jpeg`` accepts: 8-bit
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

:func:`decode_jpeg` falls back to ``jpeg.decode_jpeg`` (with one
``RuntimeWarning`` per process) when the compiler, the header or the
library is missing.
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

__all__ = ["decode_jpeg"]

_SOURCE = r"""
#include <setjmp.h>
#include <stddef.h>
#include <stdio.h>
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
"""

# ctypes.CDLL once loaded, False once the build failed, None before the
# first JPEG: a process-wide resource, loaded lazily so sessions and
# non-JPEG jobs never pay for it
_lib = None


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "red_seal_ocr_spark")


def _build() -> str:
    """Path of the compiled shim, compiling it first if it is not cached."""
    key = hashlib.sha256(
        (_SOURCE + platform.machine()).encode()
    ).hexdigest()[:16]
    out_dir = _cache_dir()
    path = os.path.join(out_dir, f"jpeg_native-{key}.so")
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
            [cc, "-O2", "-shared", "-fPIC", "-x", "c", "-", "-o", tmp, "-ljpeg"],
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
    fn = lib.rso_jpeg_decode
    fn.argtypes = [
        ctypes.c_char_p, ctypes.c_ulong, ctypes.c_longlong, ctypes.c_void_p,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
        ctypes.c_char_p,
    ]
    fn.restype = ctypes.c_int
    return lib


def _library():
    """The loaded shim, or None when it cannot be built or loaded here."""
    global _lib
    if _lib is None:
        try:
            _lib = _load(_build())
        except (OSError, AttributeError, subprocess.SubprocessError) as exc:
            warnings.warn(
                f"native JPEG decode unavailable, decoding in numpy: {exc}",
                RuntimeWarning, stacklevel=3,
            )
            _lib = False
    return _lib or None


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
