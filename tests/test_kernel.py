"""End-to-end kernel tests: render -> extract roundtrip, fault isolation."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from red_seal_ocr_spark.config import DEFAULT_CONFIG as CFG
from red_seal_ocr_spark.config import EngineConfig
from red_seal_ocr_spark.functions.kernel import DECODE_ERROR, OK, process_image
from red_seal_ocr_spark.functions.png import encode_png
from red_seal_ocr_spark.operators.extract import _kernel_udf
from red_seal_ocr_spark.sources.datagen import (
    BLACK,
    GRAY,
    OFF_RED,
    SEAL_REDS,
    media_seal_texts,
    render_media,
    render_seal_block,
    render_text_block,
)


def test_roundtrip_generated_media():
    """Rendered media decodes to the intended seal texts in (y,x) order."""
    n_corrupt = 0
    for i in range(30):
        ref = f"m-{i:08d}-00"
        expect = media_seal_texts(ref)
        r = process_image(render_media(ref), CFG)
        if expect is None:
            n_corrupt += 1
            assert r.status == DECODE_ERROR
        else:
            assert r.status == OK
            assert r.text == "".join(expect), f"{ref}: want {expect} got {r.text}"
    # the 3% corrupt rate should have produced at least zero (sanity only)
    assert n_corrupt >= 0


def test_blank_canvas_is_success_with_empty_text():
    img = np.full((300, 300, 3), 255, dtype=np.uint8)
    r = process_image(encode_png(img), CFG)
    assert r.status == OK and r.text == "" and r.n_components == 0


def test_distractors_only_no_text():
    img = np.full((400, 400, 3), 255, dtype=np.uint8)
    blk = render_text_block("SPARK", 2, BLACK)
    img[50 : 50 + blk.shape[0], 50 : 50 + blk.shape[1]] = blk
    img[200:203, 100:260] = np.array(GRAY, dtype=np.uint8)
    img[300:330, 300:340] = np.array(OFF_RED, dtype=np.uint8)
    r = process_image(encode_png(img), CFG)
    assert r.status == OK and r.text == ""


def test_speck_removed_by_morph_open():
    img = np.full((400, 400, 3), 255, dtype=np.uint8)
    img[100, 100] = np.array(SEAL_REDS[0], dtype=np.uint8)
    img[250, 300] = np.array(SEAL_REDS[2], dtype=np.uint8)
    r = process_image(encode_png(img), CFG)
    assert r.status == OK and r.text == ""


def test_decode_failure_paths():
    assert process_image(None, CFG).status == DECODE_ERROR
    assert process_image(b"", CFG).status == DECODE_ERROR
    assert process_image(b"garbage-bytes", CFG).status == DECODE_ERROR
    good = render_media("m-00000003-00")
    assert process_image(good[: len(good) // 2], CFG).status == DECODE_ERROR


def test_fault_isolation_in_batch():
    """One bad image never kills the batch (reference main.py:132-137):
    the Spark kernel function maps each failure to its kind and keeps
    going."""
    good = render_media("m-00000004-00")
    batch = pd.DataFrame({
        "doc_id": ["d0", "d1", "d2", "d3"],
        "offset": [0, 1, 2, 3],
        "media_ref": ["m0", "m1", "m2", "m3"],
        "content": [good, b"junk", None, good],
    })
    (out,) = list(_kernel_udf(CFG)(iter([batch])))
    assert out["ok"].tolist() == [True, False, False, True]
    assert out["failure_kind"].tolist() == [None, "decode_error", "missing_media", None]
    texts = out["text"].tolist()
    assert texts[1] is None and texts[2] is None
    assert texts[0] == texts[3] is not None
    assert texts[0] == "".join(media_seal_texts("m-00000004-00"))


def test_multi_seal_reading_order():
    """Components decode in deterministic (y0, x0) order (SURVEY.md O3)."""
    img = np.full((500, 600, 3), 255, dtype=np.uint8)
    b1 = render_seal_block("AAA", 3, SEAL_REDS[0], CFG)
    b2 = render_seal_block("BBB", 3, SEAL_REDS[1], CFG)
    img[300 : 300 + b1.shape[0], 50 : 50 + b1.shape[1]] = b1   # lower
    img[40 : 40 + b2.shape[0], 400 : 400 + b2.shape[1]] = b2   # upper
    r = process_image(encode_png(img), CFG)
    assert r.text == "BBBAAA"


def test_quality_gate_enhancement_path_still_decodes():
    """With the reference's shipped gate thresholds the enhance branch runs
    and the seal still decodes (F1 exercised end-to-end)."""
    cfg = EngineConfig(size_threshold_kb=200, resolution_threshold=1200)
    img = np.full((400, 500, 3), 255, dtype=np.uint8)
    blk = render_seal_block("GATE5", 4, SEAL_REDS[0], CFG)
    img[100 : 100 + blk.shape[0], 80 : 80 + blk.shape[1]] = blk
    r = process_image(encode_png(img), cfg)
    assert r.status == OK and r.text == "GATE5"


def test_large_canvas_downscale_path():
    """Canvas above the 1280 cap still decodes (F9/F12 projection)."""
    img = np.full((1400, 900, 3), 255, dtype=np.uint8)
    blk = render_seal_block("BIG1", 4, SEAL_REDS[3], CFG)
    img[1300 : 1300 + blk.shape[0], 700 : 700 + blk.shape[1]] = blk
    r = process_image(encode_png(img), CFG)
    assert r.status == OK and r.text == "BIG1"


def test_area_filter_fallback():
    """A tiny seal below the area threshold still decodes via F6 fallback."""
    img = np.full((1900, 1900, 3), 255, dtype=np.uint8)  # ratio 1e-4 -> min 361
    blk = render_seal_block("FB", 3, SEAL_REDS[0], CFG)  # not tiny enough; shrink below
    # a 2x2 red dot: passes morph (solid 2x2 survives open), area 4 < 361
    img[900:902, 900:902] = np.array(SEAL_REDS[0], dtype=np.uint8)
    r = process_image(encode_png(img), CFG)
    # fallback keeps the dot as a component; it does not parse as a seal
    assert r.status == OK and r.text == "" and r.n_components >= 1


def test_deterministic():
    data = render_media("m-00000007-00")
    r1, r2 = process_image(data, CFG), process_image(data, CFG)
    assert r1.text == r2.text and r1.n_components == r2.n_components


def test_layer_profiler_kernel_replay_times_every_format():
    """perfbench.trace.kernel_replay patches functions.kernel by name (the
    decode seam decode_image_lazy and every stage function), so renaming
    one breaks the layer profiler; pin that here for all five formats."""
    from perfbench.trace import KERNEL_STAGES, kernel_replay

    ref = "m-00000038-00"  # smallest clean datagen medium: fast JPEG encodes
    formats = ("png", "png_interlaced", "jpeg", "jpeg_progressive", "bmp")
    items = [(f, render_media(ref, 42, fmt=f)) for f in formats]
    records = kernel_replay(items, lambda f: f)
    assert [r["fmt"] for r in records] == list(formats)
    for (fmt, content), rec in zip(items, records):
        assert rec["stages"]["decode"] > 0, fmt
        assert rec["status"] == process_image(content, CFG).status == OK, fmt
        assert set(KERNEL_STAGES) <= set(rec["stages"]), fmt


# sha256 over process_image's outputs, and over the pixels each red
# enhancement pass returns, for three small datagen media in each of the
# five containers (plus both passes on random pixels).  JPEGs decode
# through the numpy decoder, which every box has, so the pixels do not
# depend on the libjpeg build.  The values were computed before the
# kernel's stages were vectorized; a kernel change that moves either
# digest changes the kernel's results.
DIGEST_REFS = ("m-00000038-00", "m-00000211-00", "m-00000375-00")
DIGEST_FORMATS = ("png", "png_interlaced", "jpeg", "jpeg_progressive", "bmp")
KERNEL_DIGEST = "f3c54d84b6d1606b4d403124a96eb1c2438a65daf46d5e3823d273263b5a88e0"
PASSES_DIGEST = "b542b5d18988da3de410184a8e5ad737f0893bccb1de8ac576d2734e57c0eac1"


def test_kernel_digest_golden(native_paths, monkeypatch):
    """Both red-mask paths (the native shim and the numpy fallback) give
    the pinned digests."""
    from red_seal_ocr_spark.functions import codecs, jpeg, kernel

    monkeypatch.setattr(codecs, "decode_jpeg", jpeg.decode_jpeg)
    passes = {}
    for name in ("enhance_red_pass1", "enhance_red_pass2"):
        def hashed(img, mask, cfg, fn=getattr(kernel, name)):
            out = fn(img, mask, cfg)
            passes["sha"].update(repr((out.shape, out.dtype.str)).encode())
            passes["sha"].update(np.ascontiguousarray(out).tobytes())
            return out

        monkeypatch.setattr(kernel, name, hashed)
    for path in native_paths.values():
        passes["sha"] = hashlib.sha256()
        outputs = hashlib.sha256()
        with path():
            for fmt in DIGEST_FORMATS:
                for ref in DIGEST_REFS:
                    r = process_image(render_media(ref, 42, fmt=fmt), CFG)
                    outputs.update(repr((fmt, ref, r.text, r.status, r.n_components,
                                         r.red_pixels, r.confidence, r.bboxes)).encode())
        # and both passes on random pixels, where every edge and hue occurs
        rng = np.random.default_rng(6)
        for h, w in ((1, 9), (9, 1), (2, 2), (17, 30), (41, 23)):
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            mask = rng.random((h, w)) < 0.7
            kernel.enhance_red_pass2(kernel.enhance_red_pass1(img, mask, CFG), mask, CFG)
        assert outputs.hexdigest() == KERNEL_DIGEST
        assert passes["sha"].hexdigest() == PASSES_DIGEST
