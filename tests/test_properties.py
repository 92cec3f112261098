"""Hypothesis property tests for the kernel tier (SURVEY.md section 5 #4)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from red_seal_ocr_spark.config import DEFAULT_CONFIG as CFG
from red_seal_ocr_spark.functions.glyphs import ALPHABET
from red_seal_ocr_spark.functions.imageops import (
    connected_components,
    dilate2,
    erode2,
    filled_components,
    paint_runs,
    red_mask,
    resize_area,
    rgb_red_mask,
    rgb_to_hsv_cv,
)
from red_seal_ocr_spark.functions.ocr import decode_seal
from red_seal_ocr_spark.functions.png import decode_png, encode_png
from red_seal_ocr_spark.sources.datagen import SEAL_REDS, render_seal_block

rgb_images = arrays(
    np.uint8,
    st.tuples(st.integers(1, 40), st.integers(1, 40), st.just(3)),
    elements=st.integers(0, 255),
)

masks = arrays(np.bool_, st.tuples(st.integers(1, 30), st.integers(1, 30)))


@settings(max_examples=40, deadline=None)
@given(rgb_images)
def test_png_roundtrip_property(img):
    assert (decode_png(encode_png(img)) == img).all()


@settings(max_examples=40, deadline=None)
@given(rgb_images)
def test_fused_mask_equals_composed(img):
    a = red_mask(rgb_to_hsv_cv(img), CFG.hue_band1, CFG.hue_band2, CFG.sat_min, CFG.val_min)
    b = rgb_red_mask(img, CFG.hue_band1, CFG.hue_band2, CFG.sat_min, CFG.val_min)
    assert (a == b).all()


def _flood(mask, seeds):
    """Pixels of ``mask`` 8-connected to any of ``seeds`` (brute-force BFS)."""
    h, w = mask.shape
    seen = set(seeds)
    stack = list(seeds)
    while stack:
        y, x = stack.pop()
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                ny, nx = y + dy, x + dx
                if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] and (ny, nx) not in seen:
                    seen.add((ny, nx))
                    stack.append((ny, nx))
    return seen


def _bfs_components(mask):
    """Brute-force 8-connected components (oracle for the run labeling),
    as ``(y0, x0, y1, x1, pixels)`` in the engine's order: by (y0, x0),
    ties by the component's first pixel in scan order."""
    seen = set()
    comps = []
    for sy, sx in zip(*np.nonzero(mask)):
        if (sy, sx) not in seen:
            pix = _flood(mask, [(sy, sx)])
            seen |= pix
            ys, xs = zip(*pix)
            comps.append((min(ys), min(xs), max(ys) + 1, max(xs) + 1, pix))
    return sorted(comps, key=lambda c: c[:2])  # stable: scan order breaks ties


def _run_pixels(rows, c0, c1):
    return [(int(r), x) for r, a, b in zip(rows, c0, c1) for x in range(a, b)]


@settings(max_examples=30, deadline=None)
@given(masks)
def test_components_match_bfs(mask):
    runs, stats = connected_components(mask)
    want = _bfs_components(mask)
    assert len(runs) == len(stats) == len(want)
    for (rows, c0, c1), st_, (y0, x0, y1, x1, pix) in zip(runs, stats, want):
        got = _run_pixels(rows, c0, c1)
        assert got == sorted(pix)  # same pixels, runs in (row, col) order
        assert st_ == {"area": len(pix), "y0": y0, "x0": x0, "y1": y1, "x1": x1}


@settings(max_examples=30, deadline=None)
@given(masks)
def test_filled_components_match_flood_fill(mask):
    """Hole filling: inside each component's bbox, the background not
    8-connected to the bbox border is filled in."""
    run_sets, stats = filled_components(mask)
    want = _bfs_components(mask)
    assert len(run_sets) == len(stats) == len(want)
    for run_set, st_, (y0, x0, y1, x1, pix) in zip(run_sets, stats, want):
        local = np.zeros((y1 - y0, x1 - x0), dtype=bool)
        for y, x in pix:
            local[y - y0, x - x0] = True
        bg = ~local
        h, w = bg.shape
        border = [(y, x) for y, x in zip(*np.nonzero(bg))
                  if y in (0, h - 1) or x in (0, w - 1)]
        filled = np.ones_like(bg)
        for y, x in _flood(bg, border):
            filled[y, x] = False
        painted = paint_runs(mask.shape, run_set)
        assert np.array_equal(painted[y0:y1, x0:x1], filled)
        assert int(painted.sum()) == int(filled.sum()) == st_["area"]
        assert (st_["y0"], st_["x0"], st_["y1"], st_["x1"]) == (y0, x0, y1, x1)


@settings(max_examples=30, deadline=None)
@given(masks)
def test_morphology_monotone(mask):
    er, di = erode2(mask), dilate2(mask)
    assert not (er & ~mask).any()        # erosion shrinks
    assert not (mask & ~di).any()        # dilation grows


@settings(max_examples=30, deadline=None)
@given(
    arrays(np.float64, st.tuples(st.integers(2, 25), st.integers(2, 25)),
           elements=st.floats(0, 1)),
    st.integers(1, 10),
    st.integers(1, 10),
)
def test_resize_area_preserves_mean(img, oh, ow):
    out = resize_area(img, min(oh, img.shape[0]), min(ow, img.shape[1]))
    assert abs(out.mean() - img.mean()) < 1e-6


@settings(max_examples=25, deadline=None)
@given(
    st.text(alphabet=ALPHABET, min_size=1, max_size=10),
    st.integers(3, 6),
    st.integers(0, len(SEAL_REDS) - 1),
)
def test_seal_roundtrip_property(text, scale, red_idx):
    """Any text at any scale in any palette red decodes exactly."""
    block = render_seal_block(text, scale, SEAL_REDS[red_idx], CFG)
    glyph_mask = (block == 255).all(axis=-1)
    assert decode_seal(glyph_mask, CFG) == text


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_decode_never_crashes_on_garbage(data):
    """Arbitrary bytes either raise PngError or decode to a valid array —
    no other exception type ever escapes (fault-isolation contract)."""
    from red_seal_ocr_spark.functions.png import PngError

    try:
        img = decode_png(data)
        assert img.ndim == 3 and img.dtype == np.uint8
    except PngError:
        pass


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_process_image_never_crashes_on_garbage(data):
    from red_seal_ocr_spark.functions.kernel import DECODE_ERROR, OK, process_image

    r = process_image(data)
    assert r.status in (OK, DECODE_ERROR)


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 10**6))
def test_truncations_of_valid_png_never_crash(cut):
    from red_seal_ocr_spark.functions.kernel import process_image
    from red_seal_ocr_spark.functions.png import encode_png

    img = np.zeros((12, 12, 3), dtype=np.uint8)
    img[4:8, 4:8] = (220, 20, 30)
    data = encode_png(img)
    r = process_image(data[: cut % (len(data) + 1)])
    assert r.status in (0, 1)
