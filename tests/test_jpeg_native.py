"""The native shim (functions/native.py): its libjpeg decode, and the
build, cache and fallback every native entry point shares.

Contract: the JPEG decode accepts what ``jpeg.decode_jpeg`` accepts,
raises the same ``JpegError`` / ``JpegTooLarge``, and yields the same
kernel spans and statuses on the datagen corpus; where the shim cannot be
built, the JPEG decode, the red mask and the PNG unfilter all run their
numpy fallbacks, bit for bit, after one warning per process.
"""

from __future__ import annotations

import os
import struct
import warnings
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import numpy as np
import pytest

from red_seal_ocr_spark.functions import imageops, jpeg, native, png
from red_seal_ocr_spark.functions.codecs import decode_image_lazy
from red_seal_ocr_spark.functions.jpeg import JpegError, JpegTooLarge, encode_jpeg
from red_seal_ocr_spark.functions.jpeg_progressive import encode_jpeg_progressive
from red_seal_ocr_spark.functions.kernel import DECODE_ERROR, process_image


def _image(h=40, w=56) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(11))
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def _edit_segment(data: bytes, marker: int, edit) -> bytes:
    """``data`` with the payload of its first ``marker`` segment replaced
    by ``edit(payload)``."""
    for m, s, e in jpeg._parse_segments(data):
        if m == marker:
            body = edit(bytes(data[s:e]))
            return (data[: s - 4] + bytes([0xFF, m]) + struct.pack(">H", 2 + len(body))
                    + body + data[e:])
    raise AssertionError(f"no {marker:#x} segment")


def _with_components(data: bytes, n: int) -> bytes:
    """A 4:4:4 colour JPEG re-headed to ``n`` components (1 table set)."""
    def sof(b):
        comps = [b[6:9], b[9:12], b[12:15]]
        comps += [bytes([4 + i, 0x11, 1]) for i in range(max(0, n - 3))]
        return b[:5] + bytes([n]) + b"".join(comps[:n])

    def sos(b):
        comps = [b[1:3], b[3:5], b[5:7]]
        comps += [bytes([4 + i, 0x11]) for i in range(max(0, n - 3))]
        return bytes([n]) + b"".join(comps[:n]) + b[-3:]

    return _edit_segment(_edit_segment(data, 0xC0, sof), 0xDA, sos)


def _unsupported_streams() -> dict[str, bytes]:
    base = encode_jpeg(_image(), 90, "444")
    sof_at = next(s for m, s, _ in jpeg._parse_segments(base) if m == 0xC0)
    return {
        "arithmetic": base[: sof_at - 3] + b"\xc9" + base[sof_at - 2 :],
        "precision_12": _edit_segment(base, 0xC0, lambda b: b"\x0c" + b[1:]),
        "two_components": _with_components(base, 2),
        "four_components": _with_components(base, 4),
        "sampling_4x1": _edit_segment(base, 0xC0, lambda b: b[:7] + b"\x41" + b[8:]),
        "extraneous_bytes": base[:2] + b"\x00\x17" + base[2:],
        "truncated": base[: len(base) // 2],
        "no_image": base[:sof_at - 4] + b"\xff\xd9",
    }


@pytest.mark.parametrize("name", list(_unsupported_streams()))
def test_shim_rejects_what_the_numpy_decoder_rejects(native_paths, name):
    """Arithmetic coding, other precisions, component counts and sampling
    factors, and every libjpeg warning (extraneous bytes, premature end)
    are JpegError on both paths — never a silently patched image."""
    data = _unsupported_streams()[name]
    for path in native_paths.values():
        with path(), pytest.raises(JpegError) as info:
            native.decode_jpeg(data)
        assert not isinstance(info.value, JpegTooLarge)


def test_shim_checks_the_pixel_budget_on_the_header(native_paths):
    """Header dimensions over max_pixels raise JpegTooLarge before any
    entropy work, even when the entropy data is garbage."""
    base = encode_jpeg(_image(), 90, "420")
    huge = _edit_segment(base, 0xC0, lambda b: b[:1] + struct.pack(">HH", 50_000, 50_000) + b[5:])
    for path in native_paths.values():
        with path():
            for data in (base, base[:-30] + bytes(30), huge):
                with pytest.raises(JpegTooLarge):
                    native.decode_jpeg(data, max_pixels=1000)
            with pytest.raises(JpegTooLarge):
                native.decode_jpeg(huge)


def test_native_and_numpy_kernel_spans_agree_on_the_datagen_corpus(native_paths):
    """process_image gives the same span text and status through both
    decoders on fmt='auto' JPEG media (q100 4:4:4), corrupt ones included."""
    from red_seal_ocr_spark.sources.datagen import media_format, media_spec, render_media

    refs = [f"m-{i:08d}-00" for i in range(600)]
    refs = [r for r in refs if media_format(r).startswith("jpeg")]
    corrupt = [r for r in refs if media_spec(r)["corrupt"] is not None]
    checked = refs[:6] + corrupt  # the corrupt ones are truncated in-format
    fmts = set()
    for ref in checked:
        data = render_media(ref, fmt="auto")
        got = {}
        for name, path in native_paths.items():
            with path():
                r = process_image(data)
                got[name] = (r.status, r.text)
        assert got["native"] == got["numpy"], ref
        fmts.add(media_format(ref))
    assert fmts == {"jpeg", "jpeg_progressive"} and corrupt


# ---------------------------------------------------------------------------
# build, cache and fallback
# ---------------------------------------------------------------------------


def _no_compiler():
    raise OSError("no C compiler on PATH")


def _broken_source(monkeypatch, tmp_path):
    monkeypatch.setattr(native, "_cache_dir", lambda: str(tmp_path))
    monkeypatch.setattr(native, "_SOURCE", "#error shim does not compile\n")


def _corrupt_cached_library(monkeypatch, tmp_path):
    monkeypatch.setattr(native, "_cache_dir", lambda: str(tmp_path))
    junk = tmp_path / "junk.so"
    junk.write_bytes(b"not an ELF file")
    monkeypatch.setattr(native, "_build", lambda: str(junk))


def _sub_filtered(px: np.ndarray) -> np.ndarray:
    """PNG scanlines of ``px`` (h x w x 3) with the Sub filter on every row."""
    rows = px.reshape(px.shape[0], -1).astype(np.int16)
    delta = rows.copy()
    delta[:, 3:] -= rows[:, :-3]
    return np.concatenate([np.ones((len(rows), 1), np.uint8),
                           (delta & 0xFF).astype(np.uint8)], axis=1)


@pytest.mark.parametrize("breakage", ["no_compiler", "compile_error", "corrupt_library"])
def test_dispatch_falls_back_to_numpy_when_the_shim_is_unavailable(
        monkeypatch, tmp_path, breakage):
    """No shim: the red mask, the PNG unfilter and decode_image_lazy's JPEG
    decode run their numpy fallbacks bit for bit, with one warning per
    process (not one per entry point), and the loader never raises."""
    monkeypatch.setattr(native, "_lib", None)
    if breakage == "no_compiler":
        monkeypatch.setattr(native, "_build", _no_compiler)
    elif breakage == "compile_error":
        _broken_source(monkeypatch, tmp_path)
    else:
        _corrupt_cached_library(monkeypatch, tmp_path)
    img = _image()
    bands = ((0, 10), (156, 180))
    blobs = [encode_jpeg(img, 90, "420"), encode_jpeg_progressive(img, 90, "420")]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for _ in range(2):
            assert np.array_equal(imageops.rgb_red_mask(img, *bands, 50, 50),
                                  imageops.red_mask(imageops.rgb_to_hsv_cv(img), *bands, 50, 50))
            assert np.array_equal(png._unfilter(_sub_filtered(img), *img.shape),
                                  img.reshape(len(img), -1))
            for data in blobs:
                assert np.array_equal(decode_image_lazy(data).full(), jpeg.decode_jpeg(data))
        assert process_image(blobs[0][:100]).status == DECODE_ERROR
    assert [w.category for w in caught] == [RuntimeWarning]
    assert "numpy fallbacks" in str(caught[0].message)
    assert native._lib is False


def test_build_is_cached_by_source_hash(monkeypatch, tmp_path):
    """The shim is compiled once per source into the cache dir; later
    builds reuse the file without running the compiler."""
    monkeypatch.setattr(native, "_cache_dir", lambda: str(tmp_path / "c"))
    path = native._build()
    assert os.listdir(tmp_path / "c") == [os.path.basename(path)]
    monkeypatch.setattr(native.subprocess, "run", _no_compiler)
    assert native._build() == path
    lib = native._load(path)
    monkeypatch.setattr(native, "_lib", lib)
    data = encode_jpeg(_image(), 100, "444")
    assert np.abs(native.decode_jpeg(data).astype(np.int16)
                  - jpeg.decode_jpeg(data)).max() <= 2


def test_concurrent_first_builds_publish_one_loadable_library(monkeypatch, tmp_path):
    """Workers that start on an empty cache at once may all compile; each
    publishes with os.replace, so every one gets a complete library and
    no temp file is left behind."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    n = (os.cpu_count() or 2) + 1
    with ProcessPoolExecutor(n, mp_context=get_context("spawn")) as pool:
        paths = [f.result(timeout=120) for f in
                 [pool.submit(native._build) for _ in range(n)]]
    assert len(set(paths)) == 1
    assert os.listdir(tmp_path / "red_seal_ocr_spark") == [os.path.basename(paths[0])]
    native._load(paths[0])
